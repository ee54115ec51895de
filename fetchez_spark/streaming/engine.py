"""The execution engine: streaming tail + bounded batch replay.

Replaces fetchez's ``run_fetchez`` staged thread-pool pipeline
(/root/reference/src/fetchez/core.py:783-992) with Structured Streaming:

* pre-stage  -> batch-level transform chain (filters / dry-run / inventory)
* file-stage -> row-level DataFrame transforms inside ``foreachBatch``
* post-stage -> idempotent MERGE commit + lineage/metrics append

Exactly-once: Spark's checkpoint persists source offsets per batch_id; the
sink persists ``batch_id -> snapshot_id`` in its manifest.  On restart the
replayed batch hits :meth:`SnapshotSink.merge`'s committed-token check and
is skipped -- offsets and snapshot-id are therefore committed *together*
(the ``.part``-resume + atomic-rename recipe of core.py:564-692, lifted to
table snapshots).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from fetchez_spark.schema import CHANGE_EVENT_SCHEMA, merge_schemas
from fetchez_spark.sinks.base import SnapshotSink
from fetchez_spark.sinks.local_snapshot import open_cost_partitions
from fetchez_spark.streaming.lineage import LineageLog

Transform = Callable[[DataFrame], DataFrame]

# marker carried inside the StreamingQueryException message so the
# supervisor can tell "stop: the log evolved" from a real failure
_EVOLVED_MARKER = "FETCHEZ_SCHEMA_EVOLVED"

# internal column that captures a malformed text line verbatim
# (Spark's columnNameOfCorruptRecord); never reaches the sink
_CORRUPT_COL = "_corrupt_record"

# self-describing columnar formats: schema lives in the file footer, so
# inference / watch_schema work and per-row malformed handling does not
_BINARY_FORMATS = ("parquet", "orc")

# file-stream source options a tail may pass through (Spark
# FileStreamSource surface); everything else is a loud error -- a typo'd
# option silently ignored would change retention/ordering semantics
_SOURCE_OPTIONS = frozenset(
    {
        "latestFirst",  # newest-files-first (mtime desc) backfill order
        "fileNameOnly",  # dedup seen-files by name, not full path
        "maxFileAge",  # ignore files older than this (bounds source state)
        "cleanSource",  # archive|delete|off: retire PROCESSED log files
        "sourceArchiveDir",  # where cleanSource=archive moves them
        "maxCachedFiles",  # listing cache size (Spark 4 source-state knob)
        "maxBytesPerTrigger",  # size-based rate limit (excludes file-count)
        "timestampFormat",  # text-format timestamp parse pattern (a JSON/CSV
        # tail of micro-precision event times needs an explicit
        # SSSSSS pattern -- the default truncates to milliseconds)
        "timestampNTZFormat",  # same, for TIMESTAMP_NTZ-declared columns
        "dateFormat",  # text-format date parse pattern
    }
)


class SchemaEvolvedError(RuntimeError):
    """A micro-batch's files carry columns (or wider types) the running
    stream schema lacks.  Raised BEFORE the merge, so the batch is neither
    committed nor checkpointed -- after a restart with the widened schema
    the SAME batch is re-offered and merges losslessly (this is what makes
    supervised evolution exactly-once with zero repair machinery)."""

    def __init__(self, wider_cols: list[str]):
        super().__init__(f"{_EVOLVED_MARKER}: new columns/types {wider_cols}")
        self.wider_cols = wider_cols


def _apply_transforms(df: DataFrame, transforms: list[Transform] | None) -> DataFrame:
    for t in transforms or []:
        df = t(df)
    return df


def _infer_log_schema(
    spark: SparkSession,
    log_dir: str,
    sample_files: int | None = None,
    log_format: str = "parquet",
):
    """Union schema of the log's parquet (or ORC) files.

    ``sample_files=None``: mergeSchema over the whole dir (exact, O(files)
    footer reads -- fine up to ~10^4 files).  ``sample_files=N``: newest N
    files' footers unioned with the core change-event shape -- O(N) driver
    work at stream start on a huge log; correct whenever evolution is
    append-ordered (new columns appear in new files), which is the additive
    contract; the in-query watch_schema guard catches any stragglers
    before they can be merged narrowly."""
    import os

    def _read(*paths):
        # .format().load(list): DataFrameReader.parquet takes *paths but
        # .orc takes (path, mergeSchema=None, ...) -- a second positional
        # file path would be swallowed as an option
        reader = spark.read.option("mergeSchema", "true")
        return reader.format(log_format).load(list(paths))

    try:
        if sample_files is None:
            return _read(log_dir).schema
        names = sorted(
            (e.stat().st_mtime, e.path)
            for e in os.scandir(log_dir)
            if e.is_file() and e.name.endswith(f".{log_format}")
        )[-sample_files:]
        if not names:
            return CHANGE_EVENT_SCHEMA
        sampled = _read(*[p for _, p in names]).schema
        return merge_schemas(CHANGE_EVENT_SCHEMA, sampled)
    except Exception:  # empty dir at start time: fall back to the core shape
        return CHANGE_EVENT_SCHEMA


def _finish_sink_maintenance(sink) -> None:
    """Barrier any merge-triggered background fold (async_compact) before
    a stream run returns: the caller's next action is usually a read or a
    checkpointed restart, and 'stream done' should mean 'table quiescent'."""
    fin = getattr(sink, "finish_maintenance", None)
    if fin is not None:
        fin()


def run_stream_supervised(
    spark: SparkSession,
    log_dir: str,
    sink: SnapshotSink,
    checkpoint_dir: str,
    schema=None,
    max_restarts: int = 16,
    timeout_sec: float | None = None,
    stop_event=None,
    poll_sec: float = 2.0,
    on_restart: Callable[[int, list[str]], None] | None = None,
    **stream_kwargs,
) -> dict[str, Any]:
    """Self-healing tail: automatic MID-STREAM additive schema evolution.

    Wraps :func:`run_stream` (``watch_schema=True``) in a supervision
    loop.  When a micro-batch's files carry new columns (or widened
    types), the batch fails BEFORE its merge commit (see
    :class:`SchemaEvolvedError`), the query dies, and the supervisor
    restarts it with the widened union schema -- the failed batch was
    never checkpointed, so Spark re-offers it and it merges losslessly
    under the wide schema.  Checkpoint + token idempotence make every
    restart exactly-once; no repair or backfill pass is needed, and a
    column first appearing in a file added WEEKS after stream start lands
    in the table with no manual intervention.  (Reference analog: entry
    extra keys accepted at any time, core.py:1128-1137.)

    Blocking semantics: with ``available_now=True`` (default) returns
    after the drain completes; for a live tail pass
    ``available_now=False`` plus ``timeout_sec`` and/or ``stop_event``
    (a ``threading.Event``) to bound the run.

    Returns ``{"restarts", "schema", "evolved_columns"}``.
    """
    import time as _time

    deadline = (_time.monotonic() + timeout_sec) if timeout_sec else None
    sample_files = stream_kwargs.pop("schema_sample_files", None)
    log_format = stream_kwargs.get("log_format", "parquet")
    if schema is None:
        schema = _infer_log_schema(spark, log_dir, sample_files, log_format)
    restarts = 0
    evolved: list[str] = []
    available_now = stream_kwargs.get("available_now", True)
    while True:
        q = run_stream(
            spark,
            log_dir,
            sink,
            checkpoint_dir,
            schema=schema,
            watch_schema=True,
            **stream_kwargs,
        )
        try:
            while True:
                budget = poll_sec
                if deadline is not None:
                    budget = min(budget, max(deadline - _time.monotonic(), 0.05))
                if q.awaitTermination(budget):
                    q.awaitTermination()  # surface a terminal failure, if any
                    _finish_sink_maintenance(sink)
                    return {"restarts": restarts, "schema": schema, "evolved_columns": evolved}
                if (stop_event is not None and stop_event.is_set()) or (
                    deadline is not None and _time.monotonic() >= deadline
                ):
                    q.stop()
                    q.awaitTermination(60)
                    _finish_sink_maintenance(sink)
                    return {"restarts": restarts, "schema": schema, "evolved_columns": evolved}
        except Exception as e:  # StreamingQueryException wraps the batch error
            if _EVOLVED_MARKER not in str(e):
                raise
            if restarts >= max_restarts:
                raise RuntimeError(
                    f"schema evolved more than {max_restarts} times; giving up"
                ) from e
            restarts += 1
            # honor the sampling bound on restart too (the whole point of
            # schema_sample_files is avoiding O(log) footer reads); the
            # evolved file is new, so it IS in the newest-N sample -- but
            # if sampling somehow finds nothing wider, fall back to the
            # exact full inference rather than restart-looping
            wider = _infer_log_schema(spark, log_dir, sample_files, log_format)
            new_schema = merge_schemas(schema, wider)
            if sample_files is not None and new_schema == schema:
                wider = _infer_log_schema(spark, log_dir, None, log_format)
                new_schema = merge_schemas(schema, wider)
            known = {f.name: f.dataType for f in schema.fields}
            new_cols = [
                f.name for f in new_schema.fields if known.get(f.name) != f.dataType
            ]
            evolved.extend(c for c in new_cols if c not in evolved)
            schema = new_schema
            if on_restart:
                on_restart(restarts, new_cols)
        # availableNow semantics across restarts: the restarted query
        # re-lists available files, so the drain still covers everything
        # present at (re)start time -- a bounded catch-up stays bounded.
        if not available_now and deadline is not None and _time.monotonic() >= deadline:
            return {"restarts": restarts, "schema": schema, "evolved_columns": evolved}


def _default_token_prefix(checkpoint_dir: str) -> str:
    """Stable per-query token prefix derived from the checkpoint dir.

    Checkpoint dirs are one-per-streaming-query (Spark enforces this), so
    hashing the absolute path gives every stream its own token namespace
    and its own token-sequence watermark in the sink -- two tails into one
    table can never silently skip each other's batch ids the way a shared
    empty prefix would."""
    import hashlib
    import os

    norm = os.path.abspath(checkpoint_dir)
    return "cp" + hashlib.sha1(norm.encode()).hexdigest()[:10]


def _batch_source_files(checkpoint_dir: str, batch_id: int) -> list[str]:
    """The file paths a file-source micro-batch reads, from the query's own
    checkpoint (``sources/0/<batch_id>`` -- "v1" header then one JSON entry
    per file).  Written by Spark BEFORE foreachBatch runs, so the running
    batch can introspect exactly its own inputs -- O(batch files) driver
    work, never O(log).

    Every ``compactInterval``-th (default 10th) metadata batch is written
    as ``<batch_id>.compact`` holding ALL entries so far -- missing that
    spelling would silently skip the schema guard on exactly those
    batches (a narrow commit, i.e. the data loss the guard exists to
    prevent).  Entries carry their own ``batchId``, so the compact file
    filters down to this batch's files exactly."""
    import json
    import os

    out: list[str] = []
    for name in (str(batch_id), f"{batch_id}.compact"):
        path = os.path.join(checkpoint_dir, "sources", "0", name)
        try:
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    try:
                        entry = json.loads(line)
                    except ValueError:
                        continue
                    # plain files list only this batch; .compact lists
                    # history -- filter either way (entries self-describe)
                    if entry.get("batchId", batch_id) == batch_id and "path" in entry:
                        out.append(entry["path"])
            return out
        except OSError:
            continue
    return []


def make_batch_fn(
    sink: SnapshotSink,
    lineage: LineageLog | None = None,
    transforms: list[Transform] | None = None,
    on_batch: Callable[[int, dict], None] | None = None,
    token_prefix: str = "",
    watch_schema: tuple[str, Any, str] | None = None,
    bad_records: tuple[str, str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch function: transform chain -> MERGE -> lineage.

    ``token_prefix`` namespaces the batch tokens: N streaming queries
    writing ONE table must each pass a distinct prefix, else their batch 0s
    collide and the later stream's first batch is silently skipped as
    already-committed.  (Each query also needs its own checkpoint dir --
    that part Spark enforces.)

    ``watch_schema=(checkpoint_dir, stream_schema, log_format)`` arms the
    mid-stream evolution guard: before merging, the batch's own source
    files (from the checkpoint's source log) are footer-checked against
    the stream schema (parquet or ORC -- both self-describing), and any
    additive/widening drift raises
    :class:`SchemaEvolvedError` BEFORE the commit -- a file stream cannot
    change schema mid-query, so without this a column first appearing in
    files added after stream start is silently read as absent.  Used by
    :func:`run_stream_supervised`, which catches the failure, widens the
    schema, and restarts the query (the failed batch re-runs wide).

    ``bad_records=(mode, dir)`` arms text-tail malformed-line handling
    (the batch arrives carrying ``_corrupt_record``): ``'drop'`` excludes
    corrupt rows and counts them exactly (one extra pass over the
    micro-batch's text files -- the parse is re-run, the table merge sees
    only clean rows); ``'quarantine'`` additionally persists the raw lines
    to ``<dir>/<token>`` as JSON lines BEFORE the merge, so a crash
    between quarantine and commit replays both idempotently (the
    quarantine write is mode=overwrite per batch token, the merge is
    token-idempotent).  Corrupt rows NEVER advance the table: the
    ``_corrupt_record`` column is stripped before the merge either way.

    Before the merge the batch is coalesced to
    :func:`~fetchez_spark.sinks.local_snapshot.open_cost_partitions` of
    its plan's size estimate (the ``foreachBatch`` frame keeps its
    source's), so a batch of many small files writes few delta files
    instead of one per input file.  A batch whose size the plan does not
    know keeps its partitions, one file per partition."""

    def _token(batch_id: int) -> str:
        return f"{token_prefix}-{batch_id}" if token_prefix else str(batch_id)

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        if sink.is_committed(_token(batch_id)):
            # replayed batch after restart: offsets already folded into a
            # committed snapshot; exactly-once requires a no-op here.
            # NOTE: committed before the guard -- a batch already merged
            # (necessarily under its then-current schema) must never
            # retrigger evolution, else restart would loop forever.
            if on_batch:
                on_batch(batch_id, {"skipped": True})
            return
        if watch_schema is not None:
            ckpt_dir, stream_schema, fmt = watch_schema
            files = _batch_source_files(ckpt_dir, batch_id)
            if files:
                reader = batch.sparkSession.read.option("mergeSchema", "true")
                actual = reader.format(fmt).load(list(files)).schema
                wider = merge_schemas(stream_schema, actual)
                if wider != stream_schema:
                    known = {f.name: f.dataType for f in stream_schema.fields}
                    drift = [
                        f.name
                        for f in wider.fields
                        if known.get(f.name) != f.dataType
                    ]
                    raise SchemaEvolvedError(drift)
        malformed: dict[str, Any] = {}
        if bad_records is not None:
            import logging
            import os

            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            mode, bdir = bad_records
            # NOTE: every plan here references real payload columns too --
            # Spark disallows raw text-source queries whose only referenced
            # column is the internal corrupt-record column
            # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN).
            corrupt = batch.filter(F.col(_CORRUPT_COL).isNotNull())
            if mode == "quarantine":
                # persist BEFORE the merge so a crash in between replays
                # both sides idempotently (overwrite per token / committed
                # token skip); the Observation rides the write job, so
                # the count is free.  Full rows land: the raw line in
                # ``_corrupt_record`` plus whatever fragments parsed (CSV
                # keeps well-typed fields of a partially-bad row).
                obs = Observation()
                target = os.path.join(bdir, _token(batch_id))
                (
                    corrupt.observe(obs, F.count(F.lit(1)).alias("n"))
                    .withColumn("_batch_token", F.lit(_token(batch_id)))
                    .write.mode("overwrite")
                    .json(target)
                )
                n_bad = int(obs.get["n"])
                if n_bad == 0:
                    # a clean batch leaves no empty part-file litter behind
                    # (and read_bad_records never trips over schema-less
                    # empty JSON dirs)
                    import shutil

                    shutil.rmtree(target, ignore_errors=True)
                    malformed = {"malformed_rows": 0}
                else:
                    malformed = {"malformed_rows": n_bad, "bad_records_path": target}
            else:  # drop: exact count, one extra pass, nothing persisted
                anchor = next(c for c in batch.columns if c != _CORRUPT_COL)
                n_bad = int(
                    batch.select(
                        F.sum(
                            F.when(F.col(_CORRUPT_COL).isNotNull(), 1).otherwise(0)
                        ).alias("n"),
                        F.count(F.col(anchor)).alias("_anchor"),
                    ).collect()[0]["n"]
                    or 0
                )
                malformed = {"malformed_rows": n_bad}
            if n_bad:
                logging.getLogger("fetchez_spark").warning(
                    "batch %s: %d malformed line(s) %s (%s)",
                    _token(batch_id),
                    n_bad,
                    "quarantined to " + malformed.get("bad_records_path", "")
                    if mode == "quarantine"
                    else "dropped",
                    "bad_records mode; raw lines are NOT in the table",
                )
            batch = batch.filter(F.col(_CORRUPT_COL).isNull()).drop(_CORRUPT_COL)
        batch = _apply_transforms(batch, transforms)
        n = open_cost_partitions(batch)
        if n is not None:
            # coalesce never adds partitions: a batch above the open cost
            # per scan partition keeps Spark's split plan
            batch = batch.coalesce(n)
        # Spark's checkpoint owns source offsets keyed by batch_id; the
        # sink records the same batch_id so {offsets, snapshot} commit as
        # one logical unit (SURVEY.md section 4 "resume from partial")
        metrics = sink.merge(
            batch,
            batch_token=_token(batch_id),
            offsets={"stream_batch_id": int(batch_id), "token_prefix": token_prefix},
        )
        if malformed:
            metrics = {**metrics, **malformed}
        if lineage is not None:
            # per-partition counts arrive in the sink's commit metrics
            # (derived from the written delta files); no extra scan of the
            # batch happens here (VERDICT r1 "lineage double-scan" fix)
            record = lineage.record(batch_id, metrics)
            metrics = {**metrics, **record}
        if on_batch:
            on_batch(batch_id, metrics)

    return batch_fn


def run_stream(
    spark: SparkSession,
    log_dir: str,
    sink: SnapshotSink,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int | None = 4,
    lineage: LineageLog | None = None,
    transforms: list[Transform] | None = None,
    on_batch: Callable[[int, dict], None] | None = None,
    available_now: bool = True,
    token_prefix: str | None = None,
    watch_schema: bool = False,
    schema_sample_files: int | None = None,
    log_format: str = "parquet",
    bad_records: str = "fail",
    bad_records_dir: str | None = None,
    trigger_interval: str | None = None,
    source_options: dict[str, Any] | None = None,
):
    """Tail a file-backed change log with Structured Streaming.

    ``log_format``: ``'parquet'`` (native log), ``'orc'`` (the other
    self-describing columnar log format — same inference / evolution /
    watch_schema behavior as parquet), ``'json'`` (JSON Lines — the shape
    a Debezium-style tail lands as; pair with ``transforms=[from_debezium]``
    and ``schema=debezium_envelope_schema(...)``), or ``'csv'``
    (header row expected).  json/csv REQUIRE an explicit ``schema`` —
    file-stream inference over text formats guesses types (timestamps
    become strings) and would silently corrupt the LWW order — and do not
    support ``watch_schema`` (the evolution guard reads file footers;
    text files have none).

    ``bad_records`` (text formats only) decides what a MALFORMED line
    does.  Spark's own default (PERMISSIVE) turns a corrupt line into an
    all-null row that would merge into the table as garbage — silent
    corruption — so this engine never runs it: ``'fail'`` (default) stops
    the stream on the first malformed line (FAILFAST — nothing is
    committed, the log gets fixed, the checkpoint resumes exactly-once);
    ``'drop'`` excludes corrupt lines and reports an exact
    ``malformed_rows`` count per batch (metrics + lineage + a logged
    warning); ``'quarantine'`` additionally persists the raw lines (plus
    any fragments that parsed) as JSON under
    ``bad_records_dir/<token>/`` — default
    ``<checkpoint_dir>/bad_records`` — BEFORE the merge, so crash-replay
    is idempotent on both sides.  Read them back with
    :func:`read_bad_records`.  Parquet/ORC logs reject anything but
    ``'fail'``: a malformed columnar file always fails the read.

    ``available_now=True`` runs a bounded replay of everything currently in
    the log (resumable via ``checkpoint_dir``); ``False`` keeps tailing.
    ``trigger_interval`` (live tails only, e.g. ``"30 seconds"``) sets a
    processing-time cadence instead of Spark's as-fast-as-possible
    default -- the knob that trades freshness for fewer, larger commits
    on a quiet log.

    ``source_options`` passes file-source knobs through to the reader --
    allowlisted (a typo'd retention option silently ignored would be a
    data-loss hazard): ``latestFirst`` (newest-first backfill order by
    file mtime), ``fileNameOnly``, ``maxFileAge``, ``maxCachedFiles``,
    ``maxBytesPerTrigger`` (size-based rate limit -- the right limiter
    when log files vary in size; mutually exclusive with the default
    count limit, so pass ``max_files_per_trigger=None`` with it),
    and the log-retention pair ``cleanSource`` (``'archive'`` |
    ``'delete'``) + ``sourceArchiveDir`` -- Spark retires each log file
    AFTER the micro-batch that read it commits, so the ingest log stops
    growing without an external janitor racing the tail.  ``'archive'``
    requires a ``sourceArchiveDir`` OUTSIDE the log dir (archiving into
    the tailed dir would re-ingest).  The cleaner runs async and ONE
    BATCH BEHIND the head: Spark retires batch N's files when batch N+1
    commits, so on a quiet log the newest batch's files linger until
    more data arrives -- and it never touches unprocessed files, so
    crash-replay, exactly-once, and the ``watch_schema`` guard (which
    reads the CURRENT batch's not-yet-cleaned files) are unaffected.

    ``token_prefix`` enables N concurrent streams into ONE sink table:
    each query gets its own checkpoint dir AND its own prefix, so batch
    tokens never collide and the sink's commit lock + MoR append
    reconciliation interleave their commits safely (exactly-once per
    stream).  Default (``None``): a short stable hash of the checkpoint
    dir -- checkpoint dirs are per-query by construction (Spark enforces
    it), so distinct streams can NEVER share a token namespace or a
    token-sequence watermark by accident (two streams sharing the empty
    prefix would silently skip each other's batch ids as replays).  Pass
    ``""`` explicitly to keep bare-numeric tokens (single-stream tables
    created before this default; a table whose checkpoint moves paths
    needs the old prefix passed explicitly to stay idempotent).

    ``schema=None`` infers the UNION schema of the files already in the
    log (mergeSchema batch read of the footers): a file stream cannot
    change schema mid-query, so streaming over a mid-log additive
    evolution needs the superset up front -- inferring it prevents the
    silent column drop a fixed default schema would cause.
    ``schema_sample_files=N`` bounds that startup inference to the newest
    N files' footers (unioned with the core shape) -- O(N), not O(log),
    on a huge log; exact-by-default stays None.  Columns that first
    appear in files added AFTER the stream starts raise mid-query when
    ``watch_schema=True`` (pre-commit, so nothing is lost) and are
    handled automatically by :func:`run_stream_supervised`; with the
    default ``watch_schema=False`` they require a manual restart with
    the wider schema (Structured Streaming limitation).
    """
    if log_format not in ("parquet", "orc", "json", "csv"):
        raise ValueError(
            f"log_format must be parquet|orc|json|csv, got {log_format!r}"
        )
    binary = log_format in _BINARY_FORMATS
    if bad_records not in ("fail", "drop", "quarantine"):
        raise ValueError(
            f"bad_records must be fail|drop|quarantine, got {bad_records!r}"
        )
    if binary and bad_records != "fail":
        raise ValueError(
            "bad_records applies to text logs only: a malformed "
            f"{log_format} file always fails the read (there is no "
            "per-row recovery)"
        )
    if not binary:
        if schema is None:
            raise ValueError(
                f"log_format={log_format!r} requires an explicit schema "
                "(text-format inference guesses types and would corrupt "
                "the (ts, seq) LWW order)"
            )
        if watch_schema:
            raise ValueError(
                "watch_schema / run_stream_supervised need self-describing "
                f"file footers (parquet/orc); log_format={log_format!r} "
                "has none"
            )
        if _CORRUPT_COL in schema.fieldNames():
            raise ValueError(
                f"{_CORRUPT_COL!r} is reserved for malformed-line capture"
            )
    source_options = dict(source_options or {})
    unknown = set(source_options) - _SOURCE_OPTIONS
    if unknown:
        raise ValueError(
            f"unknown source_options {sorted(unknown)}; allowed: "
            f"{sorted(_SOURCE_OPTIONS)}"
        )
    clean_mode = str(source_options.get("cleanSource", "off")).lower()
    if clean_mode == "archive":
        import os

        archive_dir = source_options.get("sourceArchiveDir")
        if not archive_dir:
            raise ValueError("cleanSource='archive' needs a sourceArchiveDir")
        log_abs = os.path.abspath(log_dir)
        if os.path.commonpath(
            [os.path.abspath(str(archive_dir)), log_abs]
        ) == log_abs:
            raise ValueError(
                "sourceArchiveDir must be OUTSIDE the tailed log dir "
                "(archiving into it would re-ingest the archived files)"
            )
    if trigger_interval is not None and available_now:
        raise ValueError(
            "trigger_interval is a live-tail cadence; pass "
            "available_now=False (an availableNow drain has no cadence)"
        )
    if "maxBytesPerTrigger" in source_options and max_files_per_trigger is not None:
        # Spark's two file-source rate limits are mutually exclusive; the
        # size-based one is the right limiter when log files vary in size
        # (a count limit admits 4 tiny files or 4 huge ones alike)
        raise ValueError(
            "maxBytesPerTrigger and maxFilesPerTrigger are mutually "
            "exclusive rate limits; pass max_files_per_trigger=None to "
            "use the size-based one"
        )
    if token_prefix is None:
        token_prefix = _default_token_prefix(checkpoint_dir)
    if schema is None:
        schema = _infer_log_schema(spark, log_dir, schema_sample_files, log_format)
    batch_bad_records = None
    read_schema = schema
    if not binary:
        import os

        import pyspark.sql.types as T

        if bad_records == "fail":
            # never Spark's PERMISSIVE default: a corrupt line must not
            # become an all-null row in the table
            pass
        else:
            read_schema = T.StructType(
                list(schema.fields) + [T.StructField(_CORRUPT_COL, T.StringType())]
            )
            batch_bad_records = (
                bad_records,
                bad_records_dir or os.path.join(checkpoint_dir, "bad_records"),
            )
    reader = spark.readStream.schema(read_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    for k, v in source_options.items():
        reader = reader.option(k, v)
    if not binary:
        reader = reader.option(
            "mode", "FAILFAST" if bad_records == "fail" else "PERMISSIVE"
        ).option("columnNameOfCorruptRecord", _CORRUPT_COL)
    if log_format == "json":
        stream = reader.json(log_dir)
    elif log_format == "csv":
        stream = reader.option("header", "true").csv(log_dir)
    elif log_format == "orc":
        stream = reader.orc(log_dir)
    else:
        stream = reader.parquet(log_dir)
    writer = (
        stream.writeStream.foreachBatch(
            make_batch_fn(
                sink,
                lineage=lineage,
                transforms=transforms,
                on_batch=on_batch,
                token_prefix=token_prefix,
                watch_schema=(
                    (checkpoint_dir, schema, log_format) if watch_schema else None
                ),
                bad_records=batch_bad_records,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"fetchez-cdc-{token_prefix}" if token_prefix else "fetchez-cdc")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval is not None:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def read_bad_records(spark: SparkSession, bad_records_dir: str) -> DataFrame:
    """Quarantined malformed lines across all batches of a text tail run
    with ``bad_records='quarantine'``: one row per bad line, carrying the
    raw line in ``_corrupt_record``, any fragments that parsed, and the
    ``_batch_token`` that hit it.  Empty-safe (a clean run writes
    nothing)."""
    import os

    import pyspark.sql.types as T

    subdirs = (
        [
            os.path.join(bad_records_dir, d)
            for d in sorted(os.listdir(bad_records_dir))
            if os.path.isdir(os.path.join(bad_records_dir, d))
        ]
        if os.path.isdir(bad_records_dir)
        else []
    )
    if not subdirs:
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(_CORRUPT_COL, T.StringType()),
                    T.StructField("_batch_token", T.StringType()),
                ]
            ),
        )
    # '_corrupt_record' is ALSO Spark's default corrupt-column NAME: without
    # renaming it for this read, the JSON reader would treat the quarantined
    # data field as its own internal column and return it as all-null
    return spark.read.option("columnNameOfCorruptRecord", "_qq_corrupt").json(
        subdirs
    )


def replay_batches(
    spark: SparkSession,
    chunk_paths: list[list[str]] | list[str],
    sink: SnapshotSink,
    lineage: LineageLog | None = None,
    transforms: list[Transform] | None = None,
    schema=None,
    token_prefix: str = "replay",
    file_format: str = "parquet",
) -> list[dict[str, Any]]:
    """Deterministic batch-mode replay (no streaming machinery).

    ``chunk_paths``: list of batches -- each a list of parquet/ORC files
    (``file_format``), a bare string (one single-file batch), or an
    already-materialized DataFrame (inline/passthrough sources).  Used by
    tests and the bench -- identical merge path as the stream, identical
    exactly-once token check.  Per-batch schema may differ additively
    (mid-log evolution).
    """
    out = []
    for i, chunk in enumerate(chunk_paths):
        if isinstance(chunk, DataFrame):
            batch, files = chunk, ["<inline>"]
        else:
            files = [chunk] if isinstance(chunk, str) else list(chunk)
            reader = spark.read
            if schema is not None:
                reader = reader.schema(schema)
            batch = reader.format(file_format).load(files)
        token = f"{token_prefix}-{i}"
        if sink.is_committed(token):
            out.append({"batch_token": token, "skipped": True})
            continue
        batch = _apply_transforms(batch, transforms)
        metrics = sink.merge(batch, batch_token=token, offsets={"files": files})
        if lineage is not None:
            metrics = {**metrics, **lineage.record(i, metrics)}
        out.append(metrics)
    # merge-triggered maintenance may still be folding in the background
    # (async_compact): barrier here so the returned metrics describe a
    # quiescent table -- a fold that completed during the loop was already
    # attached to the batch that harvested it; one launched by the LAST
    # batch lands on that batch's metrics now
    fin = getattr(sink, "finish_maintenance", None)
    if fin is not None and out:
        res = fin()
        if res is not None and res.get("compacted_buckets"):
            out[-1]["compacted"] = res["snapshot_id"]
    return out
