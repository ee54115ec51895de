"""The two benchmark workloads.

Each workload is a function ``(run) -> None`` that generates its seeded
inputs, sets up, measures for ``run.seconds`` in two phases, checks its
outputs and fills
``run.report`` (named metrics), ``run.e2e`` (the generic end-to-end slots)
and ``run.layer`` (per-layer numbers).  Layers are timed from outside, around
calls into the engine's public functions; traced runs wrap the same calls in
spans that tag their Spark jobs."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from core import (
    RssSampler, SparkRest, Tracer, cpu_seconds, disk_files, job_group, session_conf, summarize,
)

KEY = ["conv_id", "turn_idx"]
HEADLINE_QUERIES = [
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
SETUP_ROUNDS = 3
# ingest: the bulk phase gets BULK_SHARE of the window, the tail the rest.
# One tail file lands per slot; a single-file commit takes about half a
# slot on four cores, so the offered rate stays well below capacity.
BULK_SHARE = 0.6
STREAM_SLOT_S = 1.0
STREAM_BURST_FILES = 8
# serve_query: the serving cycles get SERVE_SHARE of the window, the
# headline queries the rest
SERVE_SHARE = 0.6
LOOKUPS_PER_CYCLE = 2
# half of tables.py's sf0.1-shaped default: the cold, oracle-checked pass
# is part of set-up and each run pays for it
QUERY_TABLE_SCALE = 0.5

L_SESSION = "session"
L_ENGINE = "streaming.engine"
L_LINEAGE = "streaming.lineage"
L_SINK = "sinks.local_snapshot"
L_EXPORT = "operators.export_view"
L_OUTBOX = "operators.outbox"
L_ENTRY = "__spark_entry__"
L_HARNESS = "harness"


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    traced: bool
    scale: float
    work: str
    cores: int
    tracer: Tracer = None  # type: ignore[assignment]
    spark: Any = None
    rest: SparkRest | None = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    report: dict[str, Any] = field(default_factory=dict)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)
    session_starts: list[float] = field(default_factory=list)
    setup_s: float = 0.0
    units: float = 0.0  # work units in the window: events, or serving cycles and query runs
    events: float = 0.0  # change events (updates on serve_query) committed in the window
    delta_bytes: int = 0  # delta-file bytes written by the window's commits
    first_job: int = 0

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.traced)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def gate(self, name: str, ok: bool, detail: Any = None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def timed(
        self,
        name: str,
        layer: str,
        fn: Callable[[], Any],
        new_trace: bool = False,
        trace: int | None = None,
        counts: Callable[[Any], dict[str, float]] | None = None,
    ) -> Any:
        """Call fn inside a span, recording its wall time as sample ``name``;
        ``counts`` derives the span's counts from fn's result."""
        t0 = time.perf_counter()
        with self.tracer.span(name, layer, new_trace=new_trace, trace=trace) as span:
            out = fn()
            if span is not None and counts is not None:
                span.counts.update(counts(out))
        self.sample(name, time.perf_counter() - t0)
        return out


# ------------------------------------------------------------ session
def start_session(run: Run):
    from fetchez_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{run.workload}",
        master=f"local[{run.cores}]",
        shuffle_partitions=2 * run.cores,
        extra_conf=session_conf(run.work, run.traced),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(run: Run, warm: Callable[[Any], None]) -> None:
    """Start the session SETUP_ROUNDS times (each start followed by one
    small job) and keep the last; then run the workload's warm-up once.
    setup_s is the median start plus the warm-up plus any pre-build.  The
    first start also launches the JVM; it is reported on its own."""
    starts = []
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        with run.tracer.span(f"session.start{r}", L_SESSION, new_trace=True):
            if run.spark is not None:
                run.spark.stop()
            run.spark = start_session(run)
            run.session_starts.append(time.perf_counter() - t0)
            run.spark.range(200_000).selectExpr("sum(id)").collect()
        starts.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    with run.tracer.span("warmup", L_SESSION, new_trace=True):
        warm(run.spark)
    run.setup_s = statistics.median(starts) + time.perf_counter() - t0
    run.report["setup"] = {"starts_s": starts, "warmup_s": time.perf_counter() - t0}
    if run.traced:
        run.tracer.sc = run.spark.sparkContext
        run.rest = SparkRest(run.spark)


def begin_window(run: Run) -> float:
    if run.rest is not None:
        run.first_job = run.rest.max_job_id() + 1
    return time.perf_counter()


def end_window(run: Run) -> None:
    """Spark application totals over the measured window (traced runs)."""
    if run.rest is None:
        return
    groups = run.rest.totals_since(run.first_job)
    by_sid = {job_group(s): s for s in run.tracer.spans}
    per_layer: dict[str, dict[str, float]] = {}
    merge_jobs = 0
    for g, tot in groups.items():
        span = by_sid.get(g) if g else None
        if span is not None:
            layer = span.layer
            if span.name == "sink.merge":
                merge_jobs += tot["jobs"]
        elif g is None:
            layer = "ungrouped"  # background folds carry no job group
        else:
            layer = L_ENGINE  # the stream's own query-level group
        acc = per_layer.setdefault(layer, {"jobs": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0})
        for k in acc:
            acc[k] += tot[k]
    total = {k: sum(v[k] for v in per_layer.values()) for k in ("jobs", "task_s", "gc_s", "shuffle_write_bytes")}
    units, events = max(run.units, 1.0), max(run.events, 1.0)
    run.layer.update(
        {
            "spark.jobs": total["jobs"],
            "spark.task_s": total["task_s"],
            "spark.shuffle_write_bytes_per_unit": total["shuffle_write_bytes"] / units,
        }
    )
    # GC time is often exactly 0 in a window on the pre-touched heap, so it
    # stays out of the result line
    run.report["spark.gc_s"] = total["gc_s"]
    run.report["spark_by_layer"] = per_layer
    commits = len(run.samples.get("sink.merge", []))
    if commits:
        run.layer["sink.merge_jobs_per_commit"] = merge_jobs / commits
        run.layer["sink.delta_bytes_per_event"] = run.delta_bytes / events
        merge = per_layer.get(L_SINK, {})
        run.report["sink.merge_task_s_per_event"] = merge.get("task_s", 0.0) / events
    fold = per_layer.get("ungrouped", {})
    run.report["sink.fold_task_s"] = fold.get("task_s", 0.0)
    run.report["sink.fold_shuffle_bytes_per_event"] = fold.get("shuffle_write_bytes", 0) / events


# ------------------------------------------------------------ tracing proxies
class TracedSink:
    """Delegating wrapper handed to the engine in place of the sink: times
    each public call in a span (product code is not patched)."""

    def __init__(self, run: Run, sink) -> None:
        self._run = run
        self._sink = sink

    def __getattr__(self, name: str):
        return getattr(self._sink, name)

    def merge(self, batch, batch_token: str, **kw):
        before = {f["path"] for f in self._sink.files()}
        out = self._run.timed(
            "sink.merge", L_SINK, lambda: self._sink.merge(batch, batch_token=batch_token, **kw),
            counts=lambda m: {"rows_in": m.get("rows_in", 0)},
        )
        self._run.delta_bytes += delta_bytes(self._sink, before)
        return out

    def finish_maintenance(self):
        return self._run.timed("sink.finish_maintenance", L_SINK, self._sink.finish_maintenance)


class TracedLineage:
    def __init__(self, run: Run, lineage) -> None:
        self._run = run
        self._lineage = lineage

    def __getattr__(self, name: str):
        return getattr(self._lineage, name)

    def record(self, batch_id, commit_metrics, *a, **kw):
        # same trace as the commit this thread just made
        return self._run.timed(
            "lineage.record", L_LINEAGE, lambda: self._lineage.record(batch_id, commit_metrics, *a, **kw),
            trace=self._run.tracer.last_trace(),
        )


def wrap(run: Run, sink, lineage):
    if not run.traced:
        return sink, lineage
    return TracedSink(run, sink), TracedLineage(run, lineage)


# ------------------------------------------------------------ gates
def gate_lww(run: Run, sink, files: list[str]) -> None:
    """Final table == an independent one-shot LWW fold of every event fed
    in (exceptAll both ways), and fsck clean.  Returns the row count."""
    from pyspark.sql import functions as F

    spark = run.spark
    got = sink.read(spark)
    payload = [c for c in got.columns if c not in KEY]
    log = spark.read.parquet(*files)
    w = F.max(F.struct("ts", "seq", "op", *[c for c in payload if c != "ts"])).alias("w")
    fold = (
        log.groupBy(*KEY)
        .agg(w)
        .where(F.col("w.op") != "D")
        .select(*KEY, *[F.col(f"w.{c}").alias(c) for c in payload])
        .select(*got.columns)
    )
    got, fold = got.cache(), fold.cache()
    try:
        missing = fold.exceptAll(got).count()
        extra = got.exceptAll(fold).count()
    finally:
        got.unpersist()
        fold.unpersist()
    run.gate("lww_fold_equal", missing == 0 and extra == 0, {"missing": missing, "extra": extra})
    fsck = sink.fsck()
    run.gate("fsck_clean", bool(fsck.get("ok")), fsck.get("errors"))


def table_layer_counts(run: Run, sink) -> None:
    files = sink.files()
    run.layer["sink.base_files"] = sum(1 for f in files if f["kind"] == "base")
    run.layer["sink.delta_files_pending"] = sum(1 for f in files if f["kind"] != "base")
    run.layer["sink.manifest_bytes"] = len(json.dumps(sink.manifest()))


def delta_bytes(sink, before: set[str]) -> int:
    return sum(
        f["bytes"] or 0 for f in sink.files() if f["kind"] != "base" and f["path"] not in before
    )


# ------------------------------------------------------------ inputs
def change_spec(n_events: int, seed: int):
    from fetchez_spark.changegen import ChangeLogSpec

    return ChangeLogSpec(
        num_events=n_events,
        num_convs=max(n_events // 20, 100),
        max_turns=20,
        seed=seed,
        src_partitions=16,
    )


# ============================================================ ingest
def ingest(run: Run) -> None:
    """Bulk replay_batches load, then an open-loop run_stream tail, each
    into its own table; the measured window is split between the two."""
    from fetchez_spark.changegen import write_change_log, write_change_log_chunked
    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
    from fetchez_spark.streaming.engine import replay_batches

    n_events = max(int(96_000 * run.scale), 8_000)
    n_chunks = 12
    per_file = max(int(3_000 * run.scale), 200)
    n_live = int(run.seconds * (1 - BULK_SHARE) / STREAM_SLOT_S) + 1
    n_files = 1 + n_live + STREAM_BURST_FILES
    t0 = time.perf_counter()
    files = write_change_log_chunked(
        change_spec(n_events, run.seed), run.path("log"), num_chunks=n_chunks,
        workers=min(run.cores, n_chunks),
    )
    staged = write_change_log(
        change_spec(per_file * n_files, run.seed + 1), run.path("staged"), num_chunks=n_files
    )
    run.layer["gen.input_s"] = time.perf_counter() - t0

    def warm(spark) -> None:
        # the first bulk batch and a fold into a scratch table: the timed
        # replays run compiled merge, write and fold code
        d = run.path("warm-table")
        sink = LocalSnapshotSink(d, num_buckets=16, cluster_deltas=False, compact_every=10**9)
        replay_batches(spark, _bulk_batches(files)[:1], sink, token_prefix="warm")
        sink.compact(spark)
        shutil.rmtree(d, ignore_errors=True)

    with RssSampler() as rss:
        setup(run, warm)
        start = begin_window(run)
        checks: list[Callable[[], Any]] = []
        per_event, per_commit = _bulk_phase(run, files, n_events, run.seconds * BULK_SHARE, checks)
        _stream_phase(run, staged, per_file, n_live, checks)
        run.report["window_s"] = time.perf_counter() - start
        end_window(run)
        for check in checks:
            check()

    run.e2e.update(
        write_bytes_per_event=per_event, files_per_commit=per_commit, peak_rss_mb=rss.peak_mb
    )


def _bulk_batches(files: list[str], n_batches: int = 3) -> list[list[str]]:
    per = -(-len(files) // n_batches)
    return [files[i : i + per] for i in range(0, len(files), per)]


def another(start: float, seconds: float, done: int, least: int, last: float) -> bool:
    """Whether a phase runs one more repetition: always until it has
    ``least``, then only while one more (as long as the last) still ends
    within ``seconds`` of ``start``."""
    return done < least or time.perf_counter() - start + last <= seconds


def _bulk_phase(
    run: Run, files: list[str], n_events: int, seconds: float, checks: list
) -> tuple[float, float]:
    """Closed loop, one caller: replay the whole log into a fresh table
    (a few large batches, merge-triggered async folds, closing compact
    inside the timing), at least twice and while the phase has time for
    one more.  Returns the bytes written per event and the files written
    per commit: what the replay leaves in its table and lineage
    directories, the same on every replay of the log."""
    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
    from fetchez_spark.streaming.engine import replay_batches
    from fetchez_spark.streaming.lineage import LineageLog

    spark = run.spark
    chunks = _bulk_batches(files)
    rates, cpu_rates, replay_s, batch_s, folds, sink, rep = [], [], [], [], 0, None, 0
    written: list[dict[tuple[int, int, int], int]] = []
    start = time.perf_counter()
    while another(start, seconds, rep, 2, replay_s[-1] if replay_s else 0.0):
        if sink is not None:
            shutil.rmtree(sink.table_dir, ignore_errors=True)
            shutil.rmtree(run.path(f"lineage-{rep - 1}"), ignore_errors=True)
        sink = LocalSnapshotSink(
            run.path(f"table-{rep}"), num_buckets=16, cluster_deltas=False, compact_every=2
        )
        tsink, tlin = wrap(run, sink, LineageLog(run.path(f"lineage-{rep}")))
        t0, c0 = time.perf_counter(), cpu_seconds()
        with run.tracer.span("replay", L_ENGINE, new_trace=True):
            metrics = run.timed(
                "replay.replay_batches", L_ENGINE,
                lambda: replay_batches(spark, chunks, tsink, lineage=tlin, token_prefix=f"r{rep}"),
            )
            run.timed("sink.compact", L_SINK, lambda: sink.compact(spark))
        dt = time.perf_counter() - t0
        run.sample("replay.cpu_s", cpu_seconds() - c0)
        cpu_rates.append(n_events / run.samples["replay.cpu_s"][-1])
        written.append(disk_files(sink.table_dir, run.path(f"lineage-{rep}")))
        run.op(len(chunks) + 1)
        rates.append(n_events / dt)
        replay_s.append(dt)
        batch_s.extend(float(m.get("seconds", 0.0)) for m in metrics)
        folds += sum(1 for m in metrics if m.get("compacted"))
        rep += 1
    run.units += n_events * rep
    run.events += n_events * rep
    run.layer["sink.commits"] = run.layer.get("sink.commits", 0) + len(chunks) * rep
    run.layer["sink.folds"] = run.layer.get("sink.folds", 0) + folds
    checks.append(lambda: gate_lww(run, sink, files))
    run.report.update(
        replay_events_per_s=summarize(rates),
        replay_events_per_cpu_s=max(cpu_rates),
        replay_files_written=[len(w) for w in written],
        replay_bytes_written=[sum(w.values()) for w in written],
        replays=rep,
        events_per_replay=n_events,
        batches_per_replay=len(chunks),
        **{"replay.first_s": replay_s[0], "replay.batch_s": summarize(batch_s)},
    )
    last = written[-1]
    return sum(last.values()) / n_events, len(last) / len(chunks)


def _batch_files(ckpt: str, batch_id: int) -> list[str]:
    """File names a micro-batch read, from the query's checkpoint source
    log (Spark writes it before foreachBatch runs)."""
    out = []
    for name in (str(batch_id), f"{batch_id}.compact"):
        p = os.path.join(ckpt, "sources", "0", name)
        if not os.path.exists(p):
            continue
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    if e.get("batchId", batch_id) == batch_id:
                        out.append(os.path.basename(e["path"]))
        break
    return out


def _stream_phase(run: Run, staged: list[str], per_file: int, n_live: int, checks: list) -> None:
    """Open loop: a generator thread renames pre-written change files into
    the tailed directory on a fixed schedule; run_stream commits them.
    Then a backlog burst lands at once and its drain is timed."""
    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
    from fetchez_spark.streaming.engine import run_stream
    from fetchez_spark.streaming.lineage import LineageLog

    spark = run.spark
    slot = STREAM_SLOT_S
    tail_dir, ckpt = run.path("tail"), run.path("checkpoint")
    os.makedirs(tail_dir)

    def land(path: str) -> str:
        dst = os.path.join(tail_dir, os.path.basename(path))
        os.rename(path, dst)  # atomic: the tail never sees a partial file
        return os.path.basename(dst)

    committed: dict[str, float] = {}  # file name -> return of its commit
    rows_by_batch: list[int] = []
    folds: list[str] = []
    cond = threading.Condition()

    def on_batch(batch_id: int, metrics: dict) -> None:
        t = time.perf_counter()
        names = _batch_files(ckpt, batch_id)
        with cond:
            for n in names:
                committed[n] = t
            rows_by_batch.append(int(metrics.get("rows_in", 0) or 0))
            if metrics.get("compacted"):
                folds.append(metrics["compacted"])
            cond.notify_all()

    def wait_for(names: list[str], timeout: float = 120) -> bool:
        deadline = time.perf_counter() + timeout
        with cond:
            while not all(n in committed for n in names):
                left = deadline - time.perf_counter()
                if left <= 0:
                    return False
                cond.wait(left)
        return True

    schema = spark.read.parquet(staged[0]).schema
    # no merge-triggered folds here: the bulk phase measures folds, and a fold
    # overlapping some commits but not others would only add noise
    sink = LocalSnapshotSink(
        run.path("stream-table"), num_buckets=16, cluster_deltas=False, compact_every=10**9
    )
    tsink, tlin = wrap(run, sink, LineageLog(run.path("stream-lineage")))
    t0 = time.perf_counter()
    query = run_stream(
        spark, tail_dir, tsink, ckpt, schema=schema, lineage=tlin, on_batch=on_batch,
        available_now=False, max_files_per_trigger=4,
    )
    try:
        run.gate("first_file_committed", wait_for([land(staged[0])]))
        run.report["stream.start_s"] = time.perf_counter() - t0

        live = staged[1 : 1 + n_live]
        names = [os.path.basename(p) for p in live]
        lags: list[float] = []
        start = time.perf_counter()

        def generator() -> None:
            for i, p in enumerate(live):
                due = start + i * slot
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                land(p)
                lags.append(max(time.perf_counter() - due, 0.0))

        gen = threading.Thread(target=generator, name="open-loop-generator")
        with run.tracer.span("stream.live", L_ENGINE, new_trace=True):
            c0 = cpu_seconds()
            gen.start()
            gen.join()
            run.gate("live_files_committed", wait_for(names))
            cpu_per_file = (cpu_seconds() - c0) / len(names)
        fresh = [committed[n] - (start + i * slot) for i, n in enumerate(names) if n in committed]
        # a generator that fell a slot behind no longer offered the fixed rate
        run.gate("generator_on_schedule", max(lags) <= slot, {"lag_s_max": max(lags)})

        burst = staged[1 + n_live :]
        with run.tracer.span("stream.burst", L_ENGINE, new_trace=True):
            tb = time.perf_counter()
            burst_names = [land(p) for p in burst]
            run.gate("burst_committed", wait_for(burst_names))
            drain = time.perf_counter() - tb
        progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
    finally:
        query.stop()
        query.awaitTermination(60)
    last = run.timed("sink.finish_maintenance", L_SINK, sink.finish_maintenance)
    if last and last.get("compacted_buckets"):
        folds.append(last["snapshot_id"])
    run.units += per_file * (len(live) + len(burst))
    run.events += per_file * (len(live) + len(burst))
    run.op(len(rows_by_batch))
    run.layer["sink.commits"] = run.layer.get("sink.commits", 0) + len(rows_by_batch)
    run.layer["sink.folds"] = run.layer.get("sink.folds", 0) + len(folds)
    run.layer["streaming.batches"] = len(progress)
    run.layer["streaming.batch_rows_p50"] = statistics.median(rows_by_batch) if rows_by_batch else 0
    _stream_progress(run, progress)
    tailed = [os.path.join(tail_dir, os.path.basename(p)) for p in staged]
    checks.append(lambda: (gate_lww(run, sink, tailed), table_layer_counts(run, sink)))
    run.report.update(
        freshness_s=summarize(fresh),
        tail_cpu_s_per_file=cpu_per_file,
        catchup_events_per_s=per_file * len(burst) / drain,
        live_files=len(live),
        events_per_file=per_file,
        burst_files=len(burst),
        slot_s=slot,
        **{"gen.lag_s_max": max(lags)},
    )


def _stream_progress(run: Run, progress: list[dict]) -> None:
    def med(key: str) -> float:
        vals = [p.get("durationMs", {}).get(key, 0) for p in progress]
        return statistics.median(vals) if vals else 0.0

    over = [
        (p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)) / 1000.0
        for p in progress
    ]
    run.report.update(
        {
            "streaming.latest_offset_ms": med("latestOffset"),
            "streaming.query_planning_ms": med("queryPlanning"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.commit_offsets_ms": med("commitOffsets"),
            "streaming.trigger_overhead_s": statistics.median(over) if over else 0.0,
        }
    )


# ============================================================ serve_query
class Serving:
    """The serving half of ``serve_query``: a table built during set-up,
    then cycles of one small Zipf-keyed update commit, an export and an
    outbox refresh, point lookups and one ``read_changes()``."""

    def __init__(self, run: Run, files: list[str], keys, convs) -> None:
        self.run, self.files, self.keys, self.convs = run, files, keys, convs
        self.rng = np.random.default_rng(run.seed)
        self.per_cycle = max(int(500 * run.scale), 20)
        self.lookups: list[tuple[str, str, list]] = []
        self.scanned: list[int] = []
        self.committed = self.cycles = 0
        self.buckets_written = self.box_files = 0
        self.new_files = {"table": 0, "export": 0, "outbox": 0}
        self.new_bytes = {"table": 0, "export": 0, "outbox": 0}

    def updates(self, cycle: int):
        """Exactly per_cycle distinct live keys, drawn Zipf, as one batch."""
        import pandas as pd

        n, keys = self.per_cycle, self.keys
        idx: set[int] = set()
        while len(idx) < n:
            idx.update(((self.rng.zipf(1.2, n) - 1) % len(keys)).tolist())
        k = keys[sorted(idx)[:n]]
        pdf = pd.DataFrame(
            {
                "op": ["U"] * n,
                "conv_id": k[:, 0],
                "turn_idx": k[:, 1].astype(np.int32),
                "role": ["assistant"] * n,
                "text": [f"served c{cycle} {c}#{t}" for c, t in k],
                "tool": [None] * n,
                "ts": [pd.Timestamp("2025-01-01", tz="UTC") + pd.Timedelta(seconds=cycle)] * n,
                "seq": np.arange(n, dtype=np.int64) + 10**12 + cycle * n,
                "src_partition": np.zeros(n, dtype=np.int32),
            }
        )
        return self.run.spark.createDataFrame(pdf, schema=self.schema)

    def build(self, spark) -> None:
        """Set-up: build and compact the table, bootstrap the export and the
        outbox."""
        from fetchez_spark.operators.export_view import ParquetExportView
        from fetchez_spark.operators.outbox import ChangeOutbox
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
        from fetchez_spark.streaming.engine import replay_batches

        run = self.run
        self.schema = spark.read.parquet(self.files[0]).schema
        self.sink = LocalSnapshotSink(
            run.path("table"), num_buckets=16, cluster_deltas=False, compact_every=10**9
        )
        replay_batches(spark, [self.files], self.sink, token_prefix="build")
        self.sink.compact(spark)
        self.exp = ParquetExportView(run.path("export"), self.sink)
        self.exp.refresh(spark)
        self.box = ChangeOutbox(run.path("outbox"), self.sink)
        self.box.refresh(spark)
        self.outbox_before = set(os.listdir(self.box.data_dir()))
        self.deltas_before = {f["path"] for f in self.sink.files()}

    def cycle(self, i: int) -> None:
        run, spark, sink, exp, box = self.run, self.run.spark, self.sink, self.exp, self.box
        upd = self.updates(i)
        prev = sink.current_snapshot_id
        with run.tracer.span("serve.cycle", L_HARNESS, new_trace=True):
            tc, c0 = time.perf_counter(), cpu_seconds()
            run.timed(
                "sink.merge", L_SINK, lambda: sink.merge(upd, batch_token=f"serve-{i}"),
                counts=lambda m: {"rows_in": m.get("rows_in", 0)},
            )
            r_exp = run.timed(
                "export.refresh", L_EXPORT, lambda: exp.refresh(spark),
                counts=lambda r: {"buckets_written": r.get("buckets_written", 0)},
            )
            r_box = run.timed(
                "outbox.refresh", L_OUTBOX, lambda: box.refresh(spark),
                counts=lambda r: {"files": r.get("files", 0)},
            )
            run.sample("serve.cycle_s", time.perf_counter() - tc)
            run.sample("serve.cycle_cpu_s", cpu_seconds() - c0)
            sid = sink.current_snapshot_id
            for k in self.rng.choice(self.convs, LOOKUPS_PER_CYCLE, replace=False):
                k = str(k)
                rows = run.timed(
                    "sink.lookup", L_SINK, lambda: sink.lookup(spark, k).collect(),
                    counts=lambda r: {"rows": len(r)},
                )
                self.lookups.append((sid, k, rows))
                if run.traced:
                    self.scanned.append(len(sink.lookup(spark, k).inputFiles()))
            run.timed("sink.read_changes", L_SINK, lambda: sink.read_changes(spark, prev).collect())
            run.timed("sink.manifest", L_SINK, sink.manifest)
        self.committed += self.per_cycle
        self.cycles += 1
        self.buckets_written += int(r_exp.get("buckets_written", 0))
        self.box_files += int(r_box.get("files", 0))
        run.op(4 + LOOKUPS_PER_CYCLE)

    def measure(self, seconds: float) -> tuple[float, float]:
        """Closed loop, one caller, at least three cycles and while the
        phase has time for one more.  Returns the bytes written per update
        and the files written per cycle, into the table, the export and the
        outbox together."""
        dirs = {"table": self.sink.table_dir, "export": self.exp.export_dir, "outbox": self.box.outbox_dir}
        on_disk = {k: disk_files(d) for k, d in dirs.items()}
        start, last = time.perf_counter(), 0.0
        while another(start, seconds, self.cycles, 3, last):
            t0 = time.perf_counter()
            self.cycle(self.cycles)
            last = time.perf_counter() - t0
            for k, d in dirs.items():
                now = disk_files(d)
                new = [size for key, size in now.items() if key not in on_disk[k]]
                self.new_files[k] += len(new)
                self.new_bytes[k] += sum(new)
                on_disk[k] = now
        run = self.run
        run.units += self.cycles
        run.events += self.committed
        run.delta_bytes = delta_bytes(self.sink, self.deltas_before)
        run.layer["sink.commits"] = self.cycles
        run.layer["export.buckets_written"] = self.buckets_written / self.cycles
        run.layer["export.bytes_written"] = self.new_bytes["export"] / self.cycles
        run.layer["outbox.files"] = self.box_files
        if self.scanned:
            run.layer["sink.lookup_files_scanned"] = statistics.median(self.scanned)
        run.report.update(
            serve_cycle_s=summarize(run.samples["serve.cycle_s"]),
            serve_cycle_cpu_s=min(run.samples["serve.cycle_cpu_s"]),
            serve_files_written=self.new_files,
            serve_bytes_written=self.new_bytes,
            lookup_s=summarize(run.samples["sink.lookup"]),
            cycles=self.cycles,
            updates_committed=self.committed,
        )
        files, nbytes = sum(self.new_files.values()), sum(self.new_bytes.values())
        return nbytes / self.committed, files / self.cycles

    def check(self) -> None:
        """Export == table, the outbox carries every update, and each lookup
        equals the filtered read at its snapshot."""
        from pyspark.sql import functions as F

        run, spark, sink = self.run, self.run.spark, self.sink
        cur = sink.read(spark)
        ex = self.exp.read(spark).select(*cur.columns)
        missing, extra = cur.exceptAll(ex).count(), ex.exceptAll(cur).count()
        run.gate("export_equals_table", missing == 0 and extra == 0, {"missing": missing, "extra": extra})
        box_rows = 0
        for f in os.listdir(self.box.data_dir()):
            if f not in self.outbox_before:
                with open(os.path.join(self.box.data_dir(), f)) as fh:
                    box_rows += sum(1 for line in fh if line.strip())
        run.gate(
            "outbox_rows_equal_updates", box_rows == self.committed,
            {"outbox": box_rows, "updates": self.committed},
        )
        by_sid: dict[str, list[tuple[str, list]]] = {}
        for sid, k, rows in self.lookups:
            by_sid.setdefault(sid, []).append((k, rows))
        for sid, items in by_sid.items():
            ks = [k for k, _ in items]
            ref = sink.read(spark, snapshot_id=sid).where(F.col("conv_id").isin(ks)).collect()
            for k, rows in items:
                want = sorted(tuple(r) for r in ref if r["conv_id"] == k)
                run.gate("lookup_equals_filtered_read", sorted(tuple(r) for r in rows) == want, k)
        table_layer_counts(run, sink)


class Queries:
    """The query half of ``serve_query``: the 11 headline queries of
    ``__spark_entry__`` on seeded tables, results to the ``noop`` sink."""

    def __init__(self, run: Run, sf: str) -> None:
        import __spark_entry__ as entry_mod

        self.run, self.sf = run, sf
        self.queries, self.oracles = entry_mod.queries(), entry_mod.oracle_sql()

    def cold_pass(self) -> float:
        """Each query's cold first execution (``query.first_run_s``),
        collected and checked against DuckDB: row count and an
        order-insensitive checksum.  Returns the pass's wall time."""
        import duckdb

        run, first = self.run, 0.0
        t0 = time.perf_counter()
        con = duckdb.connect()
        try:
            for t in ("events", "lineitem", "customer", "nation", "region", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
            for name in HEADLINE_QUERIES:
                tq = time.perf_counter()
                got = run.timed(
                    f"query.{name}.first", L_ENTRY,
                    lambda: self.queries[name](run.spark, self.sf).toPandas(), new_trace=True,
                )
                first += time.perf_counter() - tq
                ok, detail = frames_match(got, con.execute(self.oracles[name]).df())
                run.gate(f"oracle.{name}", ok, detail)
        finally:
            con.close()
        run.op(len(HEADLINE_QUERIES))
        run.report["query.first_run_s"] = first
        return time.perf_counter() - t0

    def measure(self, seconds: float) -> None:
        """Whole warm passes over the 11 queries, at least one and while the
        phase has time for one more."""
        run = self.run

        def run_query(name: str) -> None:
            self.queries[name](run.spark, self.sf).write.format("noop").mode("overwrite").save()

        start, passes, last = time.perf_counter(), 0, 0.0
        c0 = cpu_seconds()
        while another(start, seconds, passes, 1, last):
            t0 = time.perf_counter()
            for name in HEADLINE_QUERIES:
                run.timed(f"query.{name}_s", L_ENTRY, lambda: run_query(name), new_trace=True)
            passes += 1
            last = time.perf_counter() - t0
        cpu = cpu_seconds() - c0
        execs = passes * len(HEADLINE_QUERIES)
        elapsed = time.perf_counter() - start
        run.op(execs)
        run.units += execs
        medians = {n: statistics.median(run.samples[f"query.{n}_s"]) for n in HEADLINE_QUERIES}
        run.report.update(
            query_suite_s=sum(medians.values()),
            query_passes=passes,
            query_execs_per_s=execs / elapsed,
            query_execs_per_cpu_s=execs / cpu,
            **{f"query.{n}_s": v for n, v in medians.items()},
        )


def serve_query(run: Run) -> None:
    """Serving cycles on a table built during set-up, then warm passes over
    the headline queries; the measured window is split between the two."""
    from fetchez_spark.changegen import generate_change_log, oracle_final_state, write_change_log
    from tables import write_tables

    n_events = max(int(60_000 * run.scale), 5_000)
    t0 = time.perf_counter()
    spec = change_spec(n_events, run.seed)
    files = write_change_log(spec, run.path("log"), num_chunks=2)
    live = oracle_final_state(generate_change_log(spec))
    keys = live[KEY].to_numpy()
    convs = np.unique(live["conv_id"].to_numpy())
    sf = run.path("tables")
    run.report["table_rows"] = write_tables(sf, run.seed, QUERY_TABLE_SCALE * run.scale)
    run.layer["gen.input_s"] = time.perf_counter() - t0

    serving = Serving(run, files, keys, convs)
    with RssSampler() as rss:
        setup(run, serving.build)
        queries = Queries(run, sf)
        cold = queries.cold_pass()
        run.setup_s += cold
        run.report["setup"]["cold_query_pass_s"] = cold
        start = begin_window(run)
        per_event, per_commit = serving.measure(run.seconds * SERVE_SHARE)
        queries.measure(run.seconds * (1 - SERVE_SHARE))
        run.report["window_s"] = time.perf_counter() - start
        end_window(run)
        serving.check()

    run.e2e.update(
        write_bytes_per_event=per_event, files_per_commit=per_commit, peak_rss_mb=rss.peak_mb
    )


def frames_match(got, want) -> tuple[bool, Any]:
    """Same columns, same row count, same order-insensitive checksum.  The
    checksum hashes each row's non-float values exactly and sums every
    float column, compared at a relative tolerance (sum order differs
    between engines)."""
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns):
        return False, {"columns": [sorted(got.columns), sorted(want.columns)]}
    if len(got) != len(want):
        return False, {"rows": [len(got), len(want)]}
    cols = sorted(got.columns)
    floats = [c for c in cols if pd.api.types.is_float_dtype(got[c]) or pd.api.types.is_float_dtype(want[c])]
    exact = [c for c in cols if c not in floats]

    def digest(df) -> int:
        if not exact:
            return 0
        norm = pd.DataFrame({c: _norm_col(df[c]) for c in exact})
        return int(pd.util.hash_pandas_object(norm, index=False).astype("uint64").sum())

    if digest(got) != digest(want):
        return False, "exact-column checksum differs"
    for c in floats:
        a = pd.to_numeric(got[c], errors="coerce").astype(float).sum()
        b = pd.to_numeric(want[c], errors="coerce").astype(float).sum()
        if abs(a - b) > 1e-6 * max(abs(a), abs(b), 1.0):
            return False, {c: [a, b]}
    return True, None


def _norm_col(s):
    import pandas as pd

    if pd.api.types.is_datetime64_any_dtype(s):
        s = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) is not None else s
        return s.astype("datetime64[us]").astype(str)
    if pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
        return s.astype("int64").astype(str)
    return s.map(lambda v: "<null>" if v is None or (isinstance(v, float) and np.isnan(v)) else str(v))


RUNNERS: dict[str, Callable[[Run], None]] = {
    "ingest": ingest,
    "serve_query": serve_query,
}
