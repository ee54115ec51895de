"""The benchmark's metric and workload catalogue, and the result line.

``END_TO_END`` and ``PER_LAYER`` are what ``BENCHMARK.json`` lists; the
extra fields here (layer, workloads, what each slot means per workload)
are the map the README documents.  ``tests/test_harness.py`` checks that
``BENCHMARK.json`` and this file agree."""

from __future__ import annotations

from typing import Any

RUN_SECONDS = 12

WORKLOADS: dict[str, dict[str, Any]] = {
    "ingest": {
        "default_seed": 11,
        "why": "replay_batches bulk load with async folds, then an open-loop run_stream file tail: "
        "per-event write and fold work, then per-commit and streaming overhead.",
    },
    "serve_query": {
        "default_seed": 37,
        "why": "Small Zipf-keyed commits each followed by export and outbox refreshes, lookups and "
        "read_changes, then the 11 headline queries: the read side and the query layer.",
    },
}

# Generic end-to-end slots: every workload fills every slot with its own
# headline number ("means" says which).  Wall and CPU times of the work are
# in the detail report, not here: on the shared four-core host they move
# with the neighbours' load by up to 2x within minutes (README, "Why counts").
END_TO_END: list[dict[str, Any]] = [
    {
        "name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25, "layer": "session",
        "means": {
            "ingest": "median of 3 session starts + replay of the first bulk batch and a fold",
            "serve_query": "median of 3 session starts + table, export and outbox bootstrap "
            "+ the cold, oracle-checked pass over the 11 queries",
        },
    },
    {
        "name": "write_bytes_per_event", "unit": "B", "better": "lower", "bound": 0.1,
        "layer": "all",
        "means": {
            "ingest": "bytes of the files one bulk replay leaves in its table and lineage "
            "directories (deltas, folds, compaction, manifests), per event",
            "serve_query": "bytes of the files the serving cycles write into the table, the "
            "export and the outbox, per update committed",
        },
    },
    {
        "name": "files_per_commit", "unit": "count", "better": "lower", "bound": 0.1,
        "layer": "all",
        "means": {
            "ingest": "files one bulk replay leaves in its table and lineage directories, per "
            "merge",
            "serve_query": "files the serving cycles write into the table, the export and the "
            "outbox, per cycle",
        },
    },
    {
        "name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.1, "layer": "all",
        "means": "peak RSS of the benchmark's Python process plus the gateway JVM, sampled from /proc",
    },
]

ALL = list(WORKLOADS)

PER_LAYER: list[dict[str, Any]] = [
    {"name": "session.start_s", "unit": "s", "better": "lower", "layer": "session", "workloads": ALL},
    {"name": "gen.input_s", "unit": "s", "better": "lower", "layer": "harness", "workloads": ALL},
    {"name": "spark.task_s", "unit": "s", "better": "lower", "layer": "spark", "workloads": ALL},
    {"name": "spark.jobs", "unit": "count", "better": "lower", "layer": "spark", "workloads": ALL},
    {"name": "spark.shuffle_write_bytes_per_unit", "unit": "B", "better": "lower", "layer": "spark",
     "workloads": ALL},
    {"name": "sink.commits", "unit": "count", "better": "higher", "layer": "sinks.local_snapshot",
     "workloads": ALL},
    {"name": "sink.merge_s_p50", "unit": "s", "better": "lower", "layer": "sinks.local_snapshot",
     "workloads": ALL},
    {"name": "sink.merge_jobs_per_commit", "unit": "count", "better": "lower",
     "layer": "sinks.local_snapshot", "workloads": ALL},
    {"name": "sink.delta_bytes_per_event", "unit": "B", "better": "lower",
     "layer": "sinks.local_snapshot", "workloads": ALL},
    {"name": "sink.folds", "unit": "count", "better": "lower", "layer": "sinks.local_snapshot",
     "workloads": ["ingest"]},
    {"name": "sink.base_files", "unit": "count", "better": "lower", "layer": "sinks.local_snapshot",
     "workloads": ALL},
    {"name": "sink.delta_files_pending", "unit": "count", "better": "lower",
     "layer": "sinks.local_snapshot", "workloads": ALL},
    {"name": "sink.manifest_bytes", "unit": "B", "better": "lower", "layer": "sinks.local_snapshot",
     "workloads": ALL},
    {"name": "sink.lookup_files_scanned", "unit": "count", "better": "lower",
     "layer": "sinks.local_snapshot", "workloads": ["serve_query"]},
    {"name": "streaming.batches", "unit": "count", "better": "lower", "layer": "streaming.engine",
     "workloads": ["ingest"]},
    {"name": "streaming.batch_rows_p50", "unit": "rows", "better": "higher", "layer": "streaming.engine",
     "workloads": ["ingest"]},
    {"name": "export.buckets_written", "unit": "count", "better": "lower",
     "layer": "operators.export_view", "workloads": ["serve_query"]},
    {"name": "export.bytes_written", "unit": "B", "better": "lower", "layer": "operators.export_view",
     "workloads": ["serve_query"]},
    {"name": "outbox.files", "unit": "count", "better": "lower", "layer": "operators.outbox",
     "workloads": ["serve_query"]},
]


def build_result(run) -> dict[str, Any]:
    """The last stdout line.  Counts a workload does not exercise read 0."""
    if run.traced:
        metrics = {
            m["name"]: {"value": float(run.layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in PER_LAYER
        }
    else:
        metrics = {m["name"]: {"value": float(run.e2e[m["name"]]), "unit": m["unit"]} for m in END_TO_END}
    return {
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }


def benchmark_json() -> dict[str, Any]:
    """The BENCHMARK.json document this catalogue implies."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w["why"]} for n, w in WORKLOADS.items()],
        "end_to_end": [{k: m[k] for k in ("name", "unit", "better", "bound")} for m in END_TO_END],
        "per_layer": [{k: m[k] for k in ("name", "unit", "better")} for m in PER_LAYER],
    }


if __name__ == "__main__":  # python3 perfbench/metrics.py > BENCHMARK.json
    import json

    print(json.dumps(benchmark_json(), indent=2))
