"""Endurance soak: a production-day worth of commits against ONE table.

The scaling ladders (BENCH/scaling_*.json) answer "how fast is one
replay"; this answers the other 100-TB question: **does the engine hold
its rate and its metadata bounds across hundreds of commits on the same
table**, with maintenance running live, schema evolving mid-stream, and
the final state still exactly right.  Concretely it replays
``FETCHEZ_SOAK_EVENTS`` (default 48M) change events as
``FETCHEZ_SOAK_COMMITS`` (default 160) separate commits — the shape of a
long-running CDC tail, where per-commit fixed costs and metadata growth
can hide from a one-shot bench — and records:

* per-commit merge seconds → rate-flatness (last-quartile median vs
  first-quartile median; a leak or O(table) step shows up as decay);
* manifest bytes, retained snapshots, live file counts, table bytes
  sampled every maintenance cycle (bounded-metadata evidence);
* ``auto_maintain`` every 16 commits (size-aware compaction, tombstone
  purge, vacuum, expire keep_last=8) INSIDE the timed window — the
  sustained rate is with-maintenance, not append-only;
* one mid-soak additive schema evolution (a chunk carrying a new
  ``model`` column lands at the halfway commit; later narrow chunks keep
  merging — both directions of per-batch additive evolution);
* final-state equality: the engine's 160-commit incremental path vs an
  INDEPENDENT single-query LWW fold over the whole log (groupBy max
  (ts, seq) struct, tombstones dropped), ``exceptAll`` in both
  directions must be empty;
* ``fsck(deep=True)`` must report zero errors;
* point-lookup latency on the full table (bucket-pruned read).

Writes ONE JSON blob to BENCH/endurance_r4.json and prints a summary.

Env knobs: FETCHEZ_SOAK_EVENTS, FETCHEZ_SOAK_COMMITS, FETCHEZ_SOAK_CORES,
FETCHEZ_SOAK_MAINTAIN_EVERY, FETCHEZ_SOAK_OUT, FETCHEZ_BENCH_TMPDIR.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EVENTS = int(os.environ.get("FETCHEZ_SOAK_EVENTS", "48000000"))
COMMITS = int(os.environ.get("FETCHEZ_SOAK_COMMITS", "160"))
CORES = int(os.environ.get("FETCHEZ_SOAK_CORES", "32"))
MAINTAIN_EVERY = int(os.environ.get("FETCHEZ_SOAK_MAINTAIN_EVERY", "16"))
OUT = os.environ.get("FETCHEZ_SOAK_OUT", os.path.join(REPO, "BENCH", "endurance_r4.json"))


def _fast_tmp() -> str | None:
    cand = os.environ.get("FETCHEZ_BENCH_TMPDIR", "/dev/shm")
    return cand if os.path.isdir(cand) else None


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _write_evolved_chunk(spec_fields: dict, out_dir: str, index: int, per: int) -> str:
    """One extra chunk carrying the additive ``model`` column, with a seq
    range and ts offset beyond every regular chunk (same contract as
    changegen._gen_chunk), landed mid-soak to exercise wide-batch-into-
    narrow-table evolution at scale."""
    from fetchez_spark.changegen import ChangeLogSpec, generate_change_log

    sub = ChangeLogSpec(
        **{**spec_fields, "num_events": per, "seed": spec_fields["seed"] + 7919, "evolve_at": 0.0}
    )
    df = generate_change_log(sub)
    assert "model" in df.columns
    df["seq"] = df["seq"] + index * per
    df["ts"] = (df["ts"] + pd.Timedelta(seconds=index * 2)).astype("datetime64[us, UTC]")
    path = os.path.join(out_dir, f"evolved-{index:05d}.parquet")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def main() -> int:
    from dataclasses import asdict

    from pyspark.sql import functions as F

    from fetchez_spark.changegen import ChangeLogSpec, write_change_log_chunked
    from fetchez_spark.session import get_spark
    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
    from fetchez_spark.streaming.lineage import LineageLog

    work = tempfile.mkdtemp(prefix="fetchez-soak-", dir=_fast_tmp())
    result: dict = {
        "events": EVENTS,
        "commits": COMMITS,
        "cores": CORES,
        "maintain_every": MAINTAIN_EVERY,
    }
    try:
        # ---- 1. the change log: one chunk per commit --------------------
        spec = ChangeLogSpec(
            num_events=EVENTS,
            num_convs=max(EVENTS // 20, 100),
            max_turns=20,
            seed=42,
            src_partitions=64,
        )
        log_dir = os.path.join(work, "log")
        t0 = time.monotonic()
        chunks = write_change_log_chunked(spec, log_dir, num_chunks=COMMITS, workers=8)
        fields = asdict(spec)
        fields.pop("extra", None)
        per = EVENTS // COMMITS
        evolved = _write_evolved_chunk(fields, log_dir, COMMITS, per)
        gen_sec = time.monotonic() - t0
        result["generate_sec"] = round(gen_sec, 1)
        result["log_bytes"] = _du(log_dir)
        print(
            f"[soak] log: {EVENTS + per} events, {COMMITS + 1} chunks, "
            f"{result['log_bytes'] / 1e9:.2f} GB in {gen_sec:.0f}s",
            flush=True,
        )

        spark = get_spark(
            app_name="fetchez-endurance-soak",
            master=f"local[{CORES}]",
            shuffle_partitions=2 * CORES,
            extra_conf={
                "spark.local.dir": _fast_tmp() or "/tmp",
                "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "20000000",
                "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
                "spark.ui.showConsoleProgress": "false",
            },
        )

        # Production-shaped sink: flat fast-append ingest, size-aware
        # compaction thresholds, cadence backstop, metrics + lineage on.
        table_dir = os.path.join(work, "table")
        sink = LocalSnapshotSink(
            table_dir,
            num_buckets=64,
            collect_metrics=True,
            cluster_deltas=False,
            compact_every=10**9,  # cadence off; auto_maintain owns policy
            compact_min_bucket_bytes=32 * 1024 * 1024,
            target_file_bytes=64 * 1024 * 1024,
            tombstone_retention_seconds=7 * 24 * 3600.0,
        )
        lineage = LineageLog(os.path.join(work, "lineage"))

        # ---- 2. the soak loop: one commit per chunk ----------------------
        batches = list(chunks)
        batches.insert(COMMITS // 2, evolved)  # mid-soak wide batch
        commit_secs: list[float] = []
        maintain_secs: list[float] = []
        samples: list[dict] = []
        t_soak = time.monotonic()
        for i, path in enumerate(batches):
            bt = time.monotonic()
            batch = spark.read.parquet(path)
            metrics = sink.merge(batch, batch_token=f"soak-{i}", offsets={"files": [path]})
            lineage.record(i, metrics)
            commit_secs.append(time.monotonic() - bt)
            if (i + 1) % MAINTAIN_EVERY == 0:
                mt = time.monotonic()
                sink.auto_maintain(spark, keep_last=8, min_age_seconds=0)
                maintain_secs.append(time.monotonic() - mt)
                man = sink.manifest()
                files = sink.file_lists()
                deltas = sink.delta_lists()
                samples.append(
                    {
                        "commit": i + 1,
                        "manifest_bytes": len(json.dumps(man)),
                        "retained_snapshots": len(sink.snapshots()),
                        "base_files": sum(len(v) for v in files.values()),
                        "delta_files": sum(len(v) for v in deltas.values()),
                        "table_bytes": _du(table_dir),
                        "maintain_sec": round(maintain_secs[-1], 2),
                        "commit_sec_median_last16": round(
                            statistics.median(commit_secs[-MAINTAIN_EVERY:]), 3
                        ),
                    }
                )
                print(f"[soak] {json.dumps(samples[-1])}", flush=True)
        soak_sec = time.monotonic() - t_soak
        total_events = EVENTS + per

        # ---- 3. rate flatness --------------------------------------------
        q = max(len(commit_secs) // 4, 1)
        first_q = statistics.median(commit_secs[:q])
        last_q = statistics.median(commit_secs[-q:])
        result.update(
            {
                "soak_sec": round(soak_sec, 1),
                "events_per_sec": round(total_events / soak_sec, 1),
                "merge_sec_total": round(sum(commit_secs), 1),
                "maintain_sec_total": round(sum(maintain_secs), 1),
                "commit_sec_first_quartile_median": round(first_q, 3),
                "commit_sec_last_quartile_median": round(last_q, 3),
                "rate_flatness_last_over_first": round(first_q / last_q, 3),
                "samples": samples,
            }
        )

        # ---- 4. final-state equality vs an independent one-shot fold ----
        tv = time.monotonic()
        got = sink.read(spark)
        visible = got.columns
        payload = [c for c in visible if c not in ("conv_id", "turn_idx")]
        log = spark.read.option("mergeSchema", "true").parquet(log_dir)
        w = F.max(F.struct("ts", "seq", "op", *[c for c in payload if c != "ts"])).alias("w")
        fold = (
            log.groupBy("conv_id", "turn_idx")
            .agg(w)
            .where(F.col("w.op") != "D")
            .select("conv_id", "turn_idx", *[F.col(f"w.{c}").alias(c) for c in payload])
            .select(*visible)
        )
        missing = fold.exceptAll(got).count()
        extra = got.exceptAll(fold).count()
        rows = got.count()
        evolved_rows = got.where(F.col("model").isNotNull()).count() if "model" in visible else 0
        result.update(
            {
                "final_rows": rows,
                "final_rows_with_evolved_col": evolved_rows,
                "equality_missing_rows": missing,
                "equality_extra_rows": extra,
                "verify_sec": round(time.monotonic() - tv, 1),
            }
        )

        # ---- 5. fsck + point lookup --------------------------------------
        tf = time.monotonic()
        fsck = sink.fsck(deep=True)
        result["fsck_sec"] = round(time.monotonic() - tf, 1)
        result["fsck_errors"] = fsck["errors"]
        result["fsck_warnings"] = len(fsck["warnings"])
        result["fsck_warning_sample"] = [str(x) for x in fsck["warnings"][:5]]
        conv = got.select("conv_id").first()["conv_id"]
        tl = time.monotonic()
        looked = sink.lookup(spark, conv).count()
        result["lookup_sec"] = round(time.monotonic() - tl, 2)
        result["lookup_rows"] = looked

        ok = (
            missing == 0
            and extra == 0
            and not fsck["errors"]
            and result["rate_flatness_last_over_first"] >= 0.6
        )
        result["ok"] = ok
        os.makedirs(os.path.dirname(OUT), exist_ok=True)
        with open(OUT, "w") as f:
            json.dump(result, f, indent=1)
        print(json.dumps({k: v for k, v in result.items() if k != "samples"}, indent=1))
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
