"""Parquet + JSON-manifest sink with Iceberg snapshot semantics.

Layout (one directory per table)::

    <table_dir>/
      VERSION                      # name of current manifest (atomic os.replace)
      manifests/snap-0000000001.json
      manifests/lists/list-<sha1>.json   # content-addressed file lists, one per commit
      data/snap-0000000001/_bucket=<b>/part-*.parquet

Manifests reference per-bucket file lists in immutable content-addressed
blobs: a commit packs every list it changed into ONE blob and stores
"ref:list-<sha1>.json#<bucket>" for each, copying the ~50-byte ref strings
of untouched buckets, so a commit writes its data files, one manifest and
at most one list blob, and total metadata writes over a stream's life are
O(n), not O(n^2) (the Iceberg manifest-list shape).  Committed batch
tokens are a bounded sliding window for the same reason.  Data dirs hold
no ``_SUCCESS`` markers: the commit point is the VERSION swap.

Manifest (the "snapshot"): schema, parent pointer, per-bucket base-file and
delta-file lists, committed batch tokens, row stats, plus catalog state
(properties, expectations, view definitions, ...).  One rule says what a
new snapshot inherits: every top-level key of its parent except
``snapshot_id``, ``parent``, the per-commit keys ``stats``,
``change_files`` and ``ts_stats_new``, and the retired ``key_blooms``;
the commit then sets the keys it changes.  ``stats.delta_commits``
carries over unless the commit resets it, and the parent's
``committed_at`` is the floor of the child's stamp.
Every top-level ``ref:`` value is a live payload for expiry, fsck and
clones.  A commit is:

1. write new data files under a snapshot-unique directory (never mutates
   existing files -- crash mid-write leaves unreferenced orphans only);
2. write ``manifests/snap-N.json.tmp`` then ``os.replace`` to final;
3. write ``VERSION.tmp`` then ``os.replace`` onto ``VERSION``.

``os.replace`` is atomic on POSIX, mirroring fetchez's download commit
(write ``.part``, verify, ``os.rename`` -- /root/reference/src/fetchez/
core.py:673-692).  If the process dies between (2) and (3) the snapshot is
orphaned and the batch is NOT committed; streaming replay re-merges it.

Scale design:

* Rows are hash-bucketed on ``conv_id`` (``pmod(hash(conv_id), B)``,
  deterministic Murmur3).  Reads prune at the manifest level: only the
  file lists for requested buckets reach the parquet scan (Iceberg-style
  manifest pruning).
* **merge-on-read (default)**: a micro-batch appends its rows as
  *bucket-clustered delta* files (one O(batch) shuffle on the bucket key)
  -- ingest cost is O(batch), never O(table).  Readers union base+deltas
  and apply the max-(ts,_seq)-per-key reduction; because deltas are
  clustered, a bucket-pruned read (``lookup``/``read(buckets=...)``)
  touches ONLY that bucket's base+delta files -- no other bucket's deltas
  enter the scan or the reduction (the Iceberg per-file-delete analog;
  this is what keeps point reads O(table/buckets) at 10^10 events).
  ``cluster_deltas=False`` restores the round-1 zero-shuffle flat-delta
  ingest, at the cost of every read between compactions scanning all
  flat deltas.  Every flat delta file (and every CoW change sidecar)
  is written in last-writer-wins order -- the key columns, then ``ts``,
  then ``_seq`` -- so each is one sorted run of the keys its batch
  changed: a key's versions sit together (its dictionary ids and run
  lengths compress them together), the next fold reads pre-ordered
  runs, and the layout can be checked from the table directory alone
  (``tools/file_census.py --runs``).  Clustered deltas keep the
  arrival order within each bucket file.  ``compact()`` folds deltas into
  base files; ``compact(minor=True)`` only consolidates each bucket's
  delta files (O(deltas), keeps read amplification bounded without
  rewriting bases).
* **copy-on-write (``mode='cow'``)**: each batch rewrites touched buckets
  (read base+deltas, merge, write new base).  Reads stay reduction-free;
  ingest pays O(touched table) per batch.  Right when batches are rare and
  reads dominate.
* Schema evolution is metadata-only in both modes: old files are never
  rewritten; reads pass the current (union) schema and parquet
  null-backfills missing columns.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import socket
import threading
import time
import uuid
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fetchez_spark.operators.dedup import dedup_latest
from fetchez_spark.operators.merge import batch_to_target_rows, merge_into
from fetchez_spark.operators.partial import (
    events_to_partial_state,
    fold_partial_states,
    is_partial_internal,
    partial_agg_exprs,
    partial_cols_of,
    partial_finish_exprs,
    partial_internal_fields,
    partial_payload_cols,
)
from fetchez_spark.schema import (
    INTERNAL_DELETED,
    INTERNAL_SEQ,
    INTERNAL_SRC,
    KEY_COLUMNS,
    TRANSCRIPT_SCHEMA,
    merge_schemas,
)
from fetchez_spark.session import NO_CRC_SIDECARS, VERIFY_PAGE_CRC
from fetchez_spark.sinks.base import SnapshotSink

_BUCKET = "_bucket"
# last-writer-wins version order within a key: the newest ``ts`` wins,
# ``_seq`` (arrival order) breaks ties
_VERSION_ORDER = ["ts", INTERNAL_SEQ]
# manifest "deltas" key for unclustered (flat) delta files
_FLAT = "*"
# read(include_provenance=True) metadata columns (the Iceberg `_file`
# analog): the data file the row's LWW WINNER came from, and the
# snapshot id that wrote that file.  Not internal columns -- they are
# opt-in read outputs, never written to disk.
PROVENANCE_FILE = "_file"
PROVENANCE_SID = "_sid"
INTERNAL_COLUMNS = (INTERNAL_SEQ, INTERNAL_DELETED, INTERNAL_SRC)


def _is_internal_name(name: str) -> bool:
    """Engine-internal column?  Covers the static trio plus the
    partial-update mode's dynamic per-column version pairs."""
    return name in INTERNAL_COLUMNS or is_partial_internal(name)


def _internal_names(columns) -> list[str]:
    """The internal columns present in a schema/column list (accepts a
    StructType or a list of names)."""
    names = columns.names if hasattr(columns, "names") else columns
    return [c for c in names if _is_internal_name(c)]


# manifest keys that describe ONE commit and are never inherited by its
# child (see LocalSnapshotSink._child_manifest): the commit's own stats,
# its CoW change set, and the event-time stats of that change set
_PER_COMMIT_KEYS = ("stats", "change_files", "ts_stats_new")
# manifest keys of retired features: tables that recorded them still open,
# and the first commit on top drops them, so expiry frees their blobs
# (``key_blooms``: the per-file leading-key bloom sidecar, now parquet
# footer blooms)
_RETIRED_KEYS = ("key_blooms",)


def _payload_refs(manifest: dict) -> dict[str, str]:
    """Every top-level blob ref of a manifest (catalog payloads, view
    definitions, per-commit stats, the CoW change list): the payloads
    expiry keeps alive, fsck resolves and a clone re-packs.  A key an
    operator adds later is covered without being registered anywhere."""
    return {
        k: v
        for k, v in manifest.items()
        if isinstance(v, str) and v.startswith("ref:")
    }


# Maintenance/retention knobs that are PART OF THE TABLE METADATA (the
# Iceberg table-properties analog): recorded at bootstrap when the creating
# constructor sets them, adopted by every fresh-session open that leaves
# them at the default, and settable later via set_properties() (one
# metadata-only commit).  Persisting them matters for correctness, not just
# convenience: row_ttl_seconds changes what a READER sees, and the
# report/auto-maintain path must see the table's own policy from the dir
# alone (CLI, cron).  name -> (constructor default, coercer).
_TABLE_PROPERTIES: dict[str, tuple[Any, Any]] = {
    "auto_compact_bytes": (None, int),
    "compact_min_bucket_bytes": (None, int),
    "target_file_bytes": (None, int),
    "sort_on_compact": (False, bool),
    "tombstone_retention_seconds": (None, float),
    "row_ttl_seconds": (None, float),
    "late_tolerance_seconds": (None, float),
    # snapshot-history retention for auto_maintain (expire keeps this
    # many); None = never auto-expire
    "snapshot_keep_last": (None, int),
}

_TOKEN_RE = re.compile(r"^(.*?)(\d+)$")

# Hard floor on the in-flight age guard for UNREFERENCED data dirs: even
# with min_age_seconds=0 (count-only expiry), a dir younger than this is a
# just-made claim whose CLAIM.json sentinel may not have landed yet and is
# never reclaimed this cycle.  Retention is free (the next pass gets it);
# deletion destroys a live write.
_CLAIM_AGE_FLOOR = 5.0

_LOG = logging.getLogger("fetchez_spark.sink")


def _token_parts(token: str) -> tuple[str, int | None]:
    """Split a batch token into (prefix, numeric suffix).

    Engine-issued tokens are ``<prefix>-<n>`` with n monotonically
    increasing per prefix (stream batch ids, replay indices); the suffix
    drives the per-prefix token-sequence watermark that keeps exactly-once
    EXACT beyond the bounded committed-token window.  Tokens with no
    trailing digits get no watermark (always re-checked against the
    window only)."""
    m = _TOKEN_RE.match(token)
    if not m:
        return token, None
    return m.group(1), int(m.group(2))


class ConcurrentWriteConflict(RuntimeError):
    """A concurrent commit changed state this commit cannot be reconciled
    with (CoW bucket rewrites, racing major compactions).  MoR appends and
    delta consolidations never raise this -- they reconcile."""


class ExpectationFailed(RuntimeError):
    """A merge batch violated an expectation whose action is ``fail``.
    Raised BEFORE the manifest commit -- the table state is unchanged
    (the already-written uncommitted delta files are removed best-effort;
    ``vacuum_orphans`` covers the rest)."""


class HistoryExpiredError(FileNotFoundError, ValueError):
    """An incremental walk (``read_changes`` / ``change_feed``) needed a
    manifest that ``expire_snapshots`` has removed: the range cannot be
    served and the caller must re-read from current state (or register a
    consumer cursor so expiry retains its chain).  Subclasses BOTH
    FileNotFoundError (what the manifest read historically raised
    mid-walk -- every rebuild-on-expiry fallback catches it) and
    ValueError (the loud not-an-ancestor contract), so both kinds of
    caller see the failure they were written for."""


def _coerce_scalar(v):
    """Numeric-string coercion for ingested index records (so range search
    compares numbers, not strings).  Non-strings pass through."""
    if not isinstance(v, str):
        return v
    s = v.strip()
    try:
        return int(s)
    except ValueError:
        try:
            return float(s)
        except ValueError:
            return v


def _filter_records(
    records: list[dict],
    eq: dict[str, Any] | None,
    ranges: dict[str, tuple[Any, Any]] | None,
) -> list[dict]:
    """Equality + half-open-range filter over flat metadata records (the
    FRED ``search`` filter surface, fred.py:153-221)."""
    out = []
    for rec in records:
        if any(rec.get(k) != v for k, v in (eq or {}).items()):
            continue
        ok = True
        for k, (lo, hi) in (ranges or {}).items():
            v = rec.get(k)
            try:
                if v is None or (lo is not None and v < lo) or (hi is not None and v > hi):
                    ok = False
                    break
            except TypeError:
                # mixed-type column (e.g. ingested CSV with '123' and
                # 'unknown'): an incomparable value fails the filter
                # instead of failing the whole search
                ok = False
                break
        if ok:
            out.append(rec)
    return out


def _blob_name(ref: str) -> str:
    """``'ref:<blob>'`` or ``'ref:<blob>#<entry>'`` -> ``'<blob>'``: the
    one parser every reader of a blob ref goes through (resolve, fsck,
    expire GC, clone)."""
    return ref[len("ref:"):].partition("#")[0]


def _blob_entry(body, ref: str):
    """What ``ref`` names inside its parsed blob: one entry of a commit's
    list pack, or the whole body for an entry-less ref."""
    _, sep, entry = ref.partition("#")
    return body[entry] if sep else body


def _data_writer(rows: DataFrame):
    """The writer every table data write starts from: overwrite into a
    snapshot-unique dir, no ``_SUCCESS`` marker -- the commit point is
    the VERSION swap, and nothing reads the marker -- and no ``.crc``
    sidecars (:data:`NO_CRC_SIDECARS`): the sink's scans check the page
    CRCs inside each file instead."""
    return (
        rows.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .options(**NO_CRC_SIDECARS)
    )


def open_cost_partitions(df: DataFrame) -> int | None:
    """Partitions that keep each output file written from ``df`` at least
    Spark's per-file open cost (``spark.sql.files.openCostInBytes``) of
    the optimized plan's size estimate: ``ceil(sizeInBytes / open
    cost)``, at least 1.  A file scan estimates its file bytes, a
    ``foreachBatch`` frame keeps its source's estimate, a pandas-created
    frame knows its size.  None when the plan does not know its size
    (the plan or a leaf reports ``spark.sql.defaultSizeInBytes``, e.g. an
    RDD of Python rows): such frames keep their partitions, one output
    file per partition."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    sizes = [int(plan.stats().sizeInBytes())] + [
        int(leaves.apply(i).stats().sizeInBytes()) for i in range(leaves.size())
    ]
    if max(sizes) >= conf.defaultSizeInBytes():
        return None
    return max(1, -(-sizes[0] // max(conf.filesOpenCostInBytes(), 1)))


_AQE_EMPTY_RULE = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


@contextmanager
def _observed_write_conf(spark: SparkSession):
    """Keep CollectMetrics alive through an observed clustered write.

    AQE's empty-relation propagation drops the Observation node when a
    batch filters to zero rows AND the write is repartition(col) +
    partitionBy (measured on Spark 4.1: ``Observation.get`` then dies in
    ``toPyRow`` with a bare scala assert).  Excluding just that rule for
    the merge write keeps the metrics; compaction and reads keep full AQE.
    """
    key = "spark.sql.adaptive.optimizer.excludedRules"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, ",".join(filter(None, [old, _AQE_EMPTY_RULE])))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _internal_fields() -> list[T.StructField]:
    return [
        T.StructField(INTERNAL_SEQ, T.LongType(), True),
        T.StructField(INTERNAL_DELETED, T.BooleanType(), True),
        T.StructField(INTERNAL_SRC, T.IntegerType(), True),
    ]


class LocalSnapshotSink(SnapshotSink):
    def __init__(
        self,
        table_dir: str,
        num_buckets: int = 32,
        key: list[str] | None = None,
        base_schema: T.StructType | None = None,
        collect_metrics: bool = True,
        mode: str = "mor",
        compact_every: int = 16,
        late_tolerance_seconds: float | None = None,
        dedup_on_write: bool | None = None,
        cluster_deltas: bool = True,
        max_committed_tokens: int = 1024,
        track_changes: bool = True,
        monotonic_tokens: bool = True,
        auto_compact_bytes: int | None = None,
        compact_min_bucket_bytes: int | None = None,
        target_file_bytes: int | None = None,
        sort_on_compact: bool = False,
        branch: str = "main",
        tombstone_retention_seconds: float | None = None,
        expectations: list[tuple[str, str, str]] | None = None,
        row_ttl_seconds: float | None = None,
        snapshot_keep_last: int | None = None,
        conflict_retries: int = 0,
        merge_mode: str | None = None,
        async_compact: bool = True,
    ) -> None:
        if mode not in ("mor", "cow"):
            raise ValueError(f"mode must be 'mor' or 'cow', got {mode!r}")
        # merge_mode: how per-key state consolidates.
        #   "lww"     -- full-row last-writer-wins (default): an update
        #               event replaces the whole row;
        #   "partial" -- per-COLUMN last-writer-wins: a NULL payload
        #               column on an update means "unchanged"; see
        #               operators/partial.py for semantics + exactness.
        # Like ``key``, the mode is PART OF THE TABLE METADATA: recorded
        # at bootstrap, adopted by every fresh-session open, and a
        # conflicting explicit value is a loud error -- a reader folding
        # with the wrong reduction would silently corrupt visible state.
        # None = adopt the recorded mode (lww for new tables).
        if merge_mode not in (None, "lww", "partial"):
            raise ValueError(
                f"merge_mode must be 'lww' or 'partial', got {merge_mode!r}"
            )
        self.merge_mode = merge_mode or "lww"
        if not re.fullmatch(r"[A-Za-z0-9._-]+", branch):
            raise ValueError(f"invalid branch name {branch!r}")
        # branch: the Iceberg WAP (write-audit-publish) ref this sink
        # commits to and reads from.  Branches share the table's snapshot
        # space (manifests, data dirs, sid claims are global and
        # collision-free); only the head POINTER differs, so creating a
        # branch costs one file and publishing is one atomic pointer
        # fast-forward.  A non-main branch auto-forks from the current
        # main head on first use.
        self.branch = branch
        self.table_dir = table_dir
        self.key = key or KEY_COLUMNS
        self.collect_metrics = collect_metrics
        self.mode = mode
        self.compact_every = compact_every
        self.late_tolerance_seconds = late_tolerance_seconds
        # CoW merges rewrite whole buckets, so the file diff between
        # snapshots over-approximates the change set; track_changes writes
        # the batch rows (O(batch), small next to the O(touched-table)
        # rewrite) as a changes sidecar so read_changes stays exact.  MoR
        # needs nothing: its delta files ARE the change set.
        self.track_changes = track_changes
        # per-prefix token-sequence watermarks assume tokens sharing a
        # numeric-suffix prefix commit in INCREASING order (true for
        # stream batch ids and replay indices).  Set False when issuing
        # custom non-monotone tokens (e.g. date-stamped backfills out of
        # order), and note the operational corollary: deleting a stream's
        # checkpoint restarts batch ids at 0, so an intentional reprocess
        # needs a new token_prefix (or monotonic_tokens=False).
        self.monotonic_tokens = monotonic_tokens
        # MoR default: skip the within-batch dedup shuffle.  The
        # max-(ts,_seq) reduction is associative and idempotent and ALREADY
        # runs at read/compaction time over overlapping deltas, so deduping
        # again at ingest only shrinks delta files (~5-20%) at the price of
        # a full shuffle -- the ingest path becomes scan -> project -> write,
        # zero shuffles.  CoW merges rewrite base files, so they always dedup.
        if dedup_on_write is None:
            dedup_on_write = mode == "cow"
        self.dedup_on_write = dedup_on_write
        # cluster_deltas: MoR deltas ride one O(batch) repartition on the
        # bucket key so bucket-pruned reads never touch other buckets'
        # deltas (see module docstring).  False = round-1 zero-shuffle flat
        # deltas (max ingest rate, read amplification until compaction).
        self.cluster_deltas = cluster_deltas
        # committed_batches is a sliding window: keeping EVERY token makes
        # each manifest O(history) and per-commit metadata work O(n^2) over
        # the stream's life.  Exactly-once only needs tokens young enough
        # to be replayed after a crash (Structured Streaming re-offers the
        # tail batches, not arbitrary history), so a generous window is
        # lossless in practice; the trim is insertion-ordered (oldest out).
        self.max_committed_tokens = max_committed_tokens
        # SIZE-AWARE compaction policy (the knob a 100 TB table actually
        # operates by -- commit cadence alone compacts hot and cold
        # buckets alike, shuffling the whole table each time):
        # * auto_compact_bytes: when the table's accumulated delta BYTES
        #   (tracked per bucket in the manifest, O(touched) upkeep) cross
        #   this total, merge() triggers a compaction of ONLY the buckets
        #   over compact_min_bucket_bytes -- cost proportional to the data
        #   that actually needs folding, not the table;
        # * compact_min_bucket_bytes: per-bucket delta-bytes threshold for
        #   bucket selection (default: auto_compact_bytes / num_buckets);
        # * target_file_bytes: compaction bin-packs each bucket's output
        #   into ceil(bucket_bytes / target) files via a key-hash salt
        #   (still ONE shuffle -- the salt is a key function, so the
        #   grouped reduction stays exchange-free on top of it).
        # All three default to None = round-3 behavior (cadence-only
        # compaction, one file per bucket).
        self.auto_compact_bytes = auto_compact_bytes
        self.compact_min_bucket_bytes = compact_min_bucket_bytes
        # async_compact: merge-triggered maintenance folds run on a
        # single background thread so the NEXT batches' appends overlap
        # the fold (guide 2.6: independent jobs back-fill the fold's
        # straggler tail; MoR appends and fold commits already reconcile
        # -- the fold subtracts exactly the delta files it read, appends
        # landed mid-fold stay pending).  One fold in flight at a time;
        # a due trigger while one runs is deferred to the next commit.
        # Joined (errors re-raised) at the next trigger, any explicit
        # compact()/rebucket(), or finish_maintenance(); replay_batches
        # joins before returning, so batch-replay semantics are
        # unchanged.  False = round-5 inline behavior.
        self.async_compact = async_compact
        self._compact_future: Any | None = None
        self._compact_pool = None
        self._compact_tid: int | None = None
        self._compact_mu = threading.Lock()
        self._size_compact_floor = 0
        self.target_file_bytes = target_file_bytes
        # sort_on_compact: major compaction range-clusters each bucket's
        # output on the table key (the Iceberg sort-order analog) and
        # records per-file min/max of the leading key in the manifest, so
        # point lookups prune FILES (not just buckets) and parquet
        # row-group min/max stats get tight.  Stats are keyed by file
        # path and files are immutable, so carried-forward stats can
        # never be WRONG -- only absent (absent files are simply not
        # pruned).  Costs one sampling pass at compaction time
        # (repartitionByRange) -- the same price Iceberg's sorted
        # rewrite pays.
        self.sort_on_compact = sort_on_compact
        # tombstone_retention_seconds: EVENT-TIME horizon for physical
        # tombstone removal at major compaction -- tombstones with
        # ts < (high_watermark - retention) are dropped from the fold
        # output (the Cassandra gc_grace / Delta VACUUM-of-deletes
        # analog).  The contract: a late event for a purged key older
        # than the purged tombstone would resurrect it, so set the
        # retention to at least the source's maximum replay/lateness
        # window (late_tolerance_seconds bounds it when configured).
        # None = keep tombstones forever (default; time travel and
        # change feeds see them regardless via their own snapshots).
        self.tombstone_retention_seconds = tombstone_retention_seconds
        # row_ttl_seconds: EVENT-TIME retention for LIVE rows (the
        # training-data "keep the last N days" policy; BigQuery partition
        # expiration / Cassandra TTL analog).  Rows whose winner ts is
        # older than (high_watermark - ttl) are (a) filtered from every
        # read IMMEDIATELY (logical expiry -- codegen ts predicate, pushed
        # to the scan on compacted tables) and (b) physically dropped at
        # major compaction (``compact(expire_rows_before=...)`` /
        # :meth:`purge_expired`).  Event-time based, so replays are
        # deterministic: the horizon derives from the table's own
        # watermark, never the wall clock.  Time travel applies each
        # snapshot's OWN horizon.  Set ttl >= the source's lateness window
        # (late_tolerance_seconds) or a late event older than physically
        # expired rows can briefly resurface its key.
        self.row_ttl_seconds = row_ttl_seconds
        # snapshot_keep_last: how much history auto_maintain/table_report
        # retains (None = report only, never auto-expire)
        self.snapshot_keep_last = snapshot_keep_last
        # default rebase budget for every merge-shaped commit through this
        # sink (merge, delete_where, update_where): per-call
        # merge(conflict_retries=) overrides
        self.conflict_retries = int(conflict_retries)
        # expectations: WRITE-TIME data-quality constraints, the Delta
        # Live Tables / Iceberg-write-validation analog.  Each is
        # (name, sql_condition, action); a row VIOLATES when the condition
        # is false or null.  Actions:
        #   fail       -- abort the whole commit (ExpectationFailed) before
        #                 the manifest swap; the table never sees the batch;
        #   drop       -- silently exclude violating rows (counted);
        #   quarantine -- exclude violating rows AND persist them with the
        #                 violated-expectation names to the table's
        #                 quarantine area (read_quarantine) for triage.
        # Cost model: fail/drop ride the existing merge Observation (zero
        # extra passes); quarantine adds ONE extra job over violating rows
        # only, and only on batches that actually violate.
        self.expectations = []
        for exp in expectations or []:
            name, cond, action = exp
            if action not in ("fail", "drop", "quarantine"):
                raise ValueError(
                    f"expectation {name!r}: action must be fail/drop/"
                    f"quarantine, got {action!r}"
                )
            self.expectations.append((str(name), cond, action))
        # constructor-declared gates, kept separate from adopted ones: the
        # per-merge refresh re-applies them on top of whatever the table
        # records at that moment
        self._session_expectations = list(self.expectations)
        # immutable content-addressed file-list blobs -> safe to cache
        self._list_cache: dict[str, Any] = {}
        os.makedirs(os.path.join(table_dir, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(table_dir, "data"), exist_ok=True)
        # policy knobs THIS constructor explicitly set (non-default):
        # recorded at bootstrap, and they win over recorded properties for
        # this session (without persisting -- persist via set_properties)
        self._session_properties = {
            k: getattr(self, k)
            for k, (default, _) in _TABLE_PROPERTIES.items()
            if getattr(self, k) != default
        }
        if self._version("main") is None:
            payload_fields = list((base_schema or TRANSCRIPT_SCHEMA).fields)
            internal = _internal_fields()
            if self.merge_mode == "partial":
                ts_type = next(
                    (f.dataType for f in payload_fields if f.name == "ts"),
                    T.TimestampType(),
                )
                internal = internal + partial_internal_fields(
                    partial_payload_cols([f.name for f in payload_fields], self.key),
                    ts_type,
                )
            schema = T.StructType(payload_fields + internal)
            root = {
                "snapshot_id": "snap-0000000000",
                "parent": None,
                "schema": schema.jsonValue(),
                "key": list(self.key),
                "num_buckets": num_buckets,
                "files": {},
                "deltas": {},
                "committed_batches": {},
                "stats": {"rows": 0},
                "offsets": None,
            }
            if self.merge_mode != "lww":
                root["merge_mode"] = self.merge_mode
            if self._session_properties:
                root["properties"] = dict(self._session_properties)
            if self.expectations:
                root["expectations"] = [list(e) for e in self.expectations]
            self._write_manifest(root)
            self._set_version(root["snapshot_id"], "main")
        if self.branch != "main" and self._version() is None:
            # auto-fork: the branch starts at the current main head (one
            # pointer file; racing creators write the same-or-newer head,
            # both valid fork points)
            with self._commit_lock():
                if self._version() is None:
                    self._set_version(self._version("main"))
        # the table's key is PART OF ITS METADATA (like Iceberg's identifier
        # fields): a fresh-session open (CLI, matview load, a reader that
        # only knows the dir) adopts the recorded key instead of guessing
        # the default -- and an explicit CONFLICTING key is a loud error,
        # because a mis-keyed writer would corrupt the LWW reduction.
        # Tables created before the key was recorded keep constructor
        # behavior (nothing recorded -> nothing to adopt).
        _boot_manifest = self.manifest()
        recorded = _boot_manifest.get("key")
        if recorded:
            if key and list(key) != list(recorded):
                raise ValueError(
                    f"table {table_dir} is keyed {list(recorded)!r}; "
                    f"constructor key={list(key)!r} conflicts"
                )
            self.key = list(recorded)
        # merge mode adoption (same contract as the key): the recorded
        # mode wins; an explicit conflicting constructor value is a loud
        # error, never a silently different fold
        recorded_mm = _boot_manifest.get("merge_mode") or "lww"
        if merge_mode is not None and merge_mode != recorded_mm:
            raise ValueError(
                f"table {table_dir} records merge_mode={recorded_mm!r}; "
                f"constructor merge_mode={merge_mode!r} conflicts (the fold "
                "semantics are table metadata and cannot change after "
                "bootstrap)"
            )
        self.merge_mode = recorded_mm
        # adopt recorded table properties for every knob this constructor
        # left at its default -- a fresh-session open (CLI, cron
        # maintenance, a plain reader of a TTL table) sees the table's own
        # policy; an explicit constructor value stays a session override
        for k, (_, coerce) in _TABLE_PROPERTIES.items():
            rec = (_boot_manifest.get("properties") or {}).get(k)
            if rec is not None and k not in self._session_properties:
                setattr(self, k, coerce(rec))
        # expectations are TABLE-LEVEL quality gates: every writer enforces
        # the recorded set (a session can ADD gates, never silently remove
        # or weaken one -- removal is an explicit metadata commit via
        # drop_expectation)
        recorded_exps = [tuple(e) for e in _boot_manifest.get("expectations") or []]
        if recorded_exps:
            by_name = {e[0]: e for e in recorded_exps}
            for e in self.expectations:
                rec_e = by_name.get(e[0])
                if rec_e is not None and tuple(rec_e) != tuple(e):
                    raise ValueError(
                        f"expectation {e[0]!r} is recorded on this table as "
                        f"{tuple(rec_e)!r}; constructor {tuple(e)!r} conflicts "
                        "(change it via drop_expectation + add_expectation)"
                    )
            extra = [e for e in self.expectations if e[0] not in by_name]
            self.expectations = recorded_exps + extra

    # ---------------------------------------------------------- manifest io
    def _version_path(self, branch: str | None = None) -> str:
        b = self.branch if branch is None else branch
        name = "VERSION" if b == "main" else f"VERSION-{b}"
        return os.path.join(self.table_dir, name)

    def _version(self, branch: str | None = None) -> str | None:
        try:
            with open(self._version_path(branch)) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def _set_version(self, snapshot_id: str, branch: str | None = None) -> None:
        path = self._version_path(branch)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(snapshot_id)
        os.replace(tmp, path)

    def _manifest_path(self, snapshot_id: str) -> str:
        return os.path.join(self.table_dir, "manifests", f"{snapshot_id}.json")

    def _write_manifest(self, manifest: dict) -> None:
        path = self._manifest_path(manifest["snapshot_id"])
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)

    def manifest(self, snapshot_id: str | None = None) -> dict:
        if snapshot_id is not None:
            if not snapshot_id.startswith("snap-"):
                # named ref: tag (immutable) or branch head
                snapshot_id = self.resolve_ref(snapshot_id)
            with open(self._manifest_path(snapshot_id)) as f:
                return json.load(f)
        # current-manifest reads retry through the expire race: between
        # reading VERSION and opening the file, an expire (count-only
        # mode) may remove that manifest as a NEWER commit supersedes it
        # -- the fresh VERSION always names a live manifest, so re-read
        last_err: FileNotFoundError | None = None
        for _ in range(5):
            sid = self._version()
            try:
                with open(self._manifest_path(sid)) as f:
                    return json.load(f)
            except FileNotFoundError as e:
                last_err = e
                time.sleep(0.05)
        raise last_err

    # ------------------------------------------------- file-list blob refs
    # Per-bucket file lists live in content-addressed blobs under
    # manifests/lists/, and manifests store ref strings instead of inline
    # lists (the Iceberg manifest-list shape).  A commit packs EVERY list
    # it changed into ONE blob ``list-<sha1>.json`` ({entry: sorted list})
    # and refers to each as "ref:list-<sha1>.json#<bucket>".
    # Consequences:
    # * a commit writes at most one list blob, whatever the number of
    #   buckets it touched (one write inside the commit lock); untouched
    #   buckets' refs are copied as ~50-byte strings, so per-commit
    #   metadata work is O(touched), not O(all files) -- the difference
    #   between O(n) and O(n^2) total metadata writes over a stream's life;
    # * bucket-pruned reads resolve ONLY the requested buckets' refs;
    # * content addressing dedups identical packs; blobs are immutable ->
    #   cached.
    # Older tables hold per-bucket blobs ("ref:list-<sha1>.json", a bare
    # list) or inline lists; both keep resolving.
    def _lists_dir(self) -> str:
        return os.path.join(self.table_dir, "manifests", "lists")

    def _write_blob_body(self, body: str, prefix: str) -> str:
        """Write-once content-addressed blob; returns the blob filename.
        ONE implementation of the hash/tmp/os.replace protocol for both
        file lists and catalog payloads."""
        import hashlib

        blob = f"{prefix}-{hashlib.sha1(body.encode()).hexdigest()[:20]}.json"
        path = os.path.join(self._lists_dir(), blob)
        if not os.path.exists(path):
            os.makedirs(self._lists_dir(), exist_ok=True)
            tmp = path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(body)
            os.replace(tmp, path)
        return blob

    def _load_blob(self, blob: str):
        with open(os.path.join(self._lists_dir(), blob)) as f:
            return json.loads(f.read())

    def _pack_list(self, files: list[str]):
        """list -> 'ref:<blob>' (written once, content-addressed): one
        bare-list blob, the per-bucket encoding of older tables."""
        if not files:
            return []
        blob = self._write_blob_body(json.dumps(sorted(files)), "list")
        # cache the CANONICAL (sorted) form -- the blob on disk is sorted,
        # so a cache hit and a disk read must return the same ordering
        # (and two orderings of one file set share a slot safely)
        self._list_cache[blob] = sorted(files)
        return f"ref:{blob}"

    def _resolve_list(self, val) -> list[str]:
        """'ref:<pack>#<entry>' | 'ref:<list blob>' | inline list -> list."""
        if isinstance(val, list):
            return val
        blob = _blob_name(val)
        cached = self._list_cache.get(blob)
        if cached is None:
            cached = self._list_cache[blob] = self._load_blob(blob)
        return list(_blob_entry(cached, val))

    def _resolve_map(self, m: dict, buckets: list[str] | None = None) -> dict[str, list[str]]:
        keys = m.keys() if buckets is None else [b for b in buckets if b in m]
        return {b: self._resolve_list(m[b]) for b in keys}

    def _pack_maps(self, *maps: dict) -> list[dict]:
        """Pack every non-empty inline list of ``maps`` (one commit's
        'files', 'deltas', ...) into ONE list blob; each becomes
        'ref:<blob>#<bucket>' (the bucket suffixed with the map's index
        when an earlier map holds a different list for it).  Refs and
        empty lists pass through, so untouched buckets keep their refs."""
        body: dict[str, list[str]] = {}
        entries: list[dict[str, str]] = []
        for i, m in enumerate(maps):
            entry = {}
            for b, v in m.items():
                if isinstance(v, list) and v:
                    files = sorted(v)
                    key = str(b)
                    if body.setdefault(key, files) != files:
                        key = f"{b}.{i}"
                        body[key] = files
                    entry[b] = key
            entries.append(entry)
        if not body:
            return [dict(m) for m in maps]
        blob = self._write_blob_body(json.dumps(body, sort_keys=True), "list")
        self._list_cache[blob] = body
        return [
            {b: (f"ref:{blob}#{entry[b]}" if b in entry else v) for b, v in m.items()}
            for m, entry in zip(maps, entries)
        ]

    def _unconsumed(self, m: dict, consumed: set[str]) -> dict:
        """``m`` minus the ``consumed`` files; buckets that lose none keep
        their ref (so the next pack leaves them out)."""
        out = {}
        for b, v in m.items():
            files = self._resolve_list(v)
            kept = [f for f in files if f not in consumed]
            out[b] = v if len(kept) == len(files) else kept
        return out

    def _count_files(self, m: dict) -> int:
        return sum(len(self._resolve_list(v)) for v in m.values())

    def file_lists(self, snapshot_id: str | None = None) -> dict[str, list[str]]:
        """Resolved {bucket: [base files]} for a snapshot (public face of
        the ref-or-inline manifest encoding)."""
        return self._resolve_map(self.manifest(snapshot_id)["files"])

    def delta_lists(self, snapshot_id: str | None = None) -> dict[str, list[str]]:
        """Resolved {bucket: [delta files]} for a snapshot."""
        return self._resolve_map(self.manifest(snapshot_id).get("deltas", {}))

    @property
    def current_snapshot_id(self) -> str:
        return self._version()

    def schema(self, include_internal: bool = False) -> T.StructType:
        full = T.StructType.fromJson(self.manifest()["schema"])
        if include_internal:
            return full
        return T.StructType(
            [f for f in full.fields if not _is_internal_name(f.name)]
        )

    def is_committed(self, batch_token: str) -> bool:
        return str(batch_token) in self.manifest()["committed_batches"]

    # -------------------------------------------------------------- helpers
    def _bucket_expr(self, num_buckets: int):
        return F.pmod(F.hash(F.col(self.key[0])), F.lit(num_buckets))

    def _imported_set(self, m: dict | None = None) -> frozenset:
        """Files onboarded by :meth:`import_files` for a snapshot (empty
        for tables that never imported -- the common case, where every
        read plan stays byte-identical to the pre-feature one)."""
        ref = (m or self.manifest()).get("imported_files")
        if not ref:
            return frozenset()
        return frozenset(self._resolve_list(ref))

    def _read_files(
        self,
        spark: SparkSession,
        files: list[str],
        schema: T.StructType,
        imported: frozenset | None = None,
    ) -> DataFrame:
        if not files:
            return spark.createDataFrame([], schema)
        df = spark.read.options(**VERIFY_PAGE_CRC).schema(schema).parquet(*files)
        if imported and any(f in imported for f in files):
            # zero-copy imported files never carried the engine-internal
            # columns; name-based projection reads them as null.  Normalize
            # at the scan so EVERY consumer (MoR fold, change feed,
            # compaction, views) sees the baseline semantics: seq=-1 (an
            # imported row loses a same-ts tie to any engine event),
            # _deleted=false (imported rows are live), _src=-1 (no source
            # partition).  Engine-written rows are never null here, so the
            # coalesce is a no-op for them.
            names = set(schema.fieldNames())
            defaults = {
                INTERNAL_SEQ: F.lit(-1).cast("long"),
                INTERNAL_DELETED: F.lit(False),
                INTERNAL_SRC: F.lit(-1).cast("int"),
            }
            df = df.withColumns(
                {
                    c: F.coalesce(F.col(c), v)
                    for c, v in defaults.items()
                    if c in names
                }
            )
        return df

    def _next_sid(self, cur: dict) -> str:
        # Allocate from max(existing manifest ids) + 1, NOT parent + 1:
        # after rollback() the parent is an old snapshot, and parent+1 would
        # reuse ids still referenced by retained newer manifests (silently
        # corrupting their time travel).  Iceberg never reuses snapshot ids.
        sids = [
            int(fn[5:-5])
            for fn in os.listdir(os.path.join(self.table_dir, "manifests"))
            if fn.startswith("snap-") and fn.endswith(".json")
        ]
        return f"snap-{(max(sids) if sids else 0) + 1:010d}"

    def _snap_payload_dir(self, sid: str) -> str:
        """Where a snapshot's data files actually go: a subdir UNDER the
        claimed dir.  Spark's ``mode("overwrite")`` deletes its output
        path at job start -- if that path were the claim dir itself, the
        claim marker would vanish for the duration of the job's first
        write and a concurrent writer could re-claim the SAME sid and
        clobber the files mid-commit (found by the round-4 four-writer
        soak).  Writing to ``<claim>/d`` means overwrite only ever
        recreates ``d``; the claim dir persists from claim to expiry."""
        return os.path.join(self.table_dir, "data", sid, "d")

    def _claim_sid(self, cur: dict) -> str:
        """Collision-free snapshot-id allocation for concurrent writers:
        claim the id by exclusively creating its data directory (atomic
        mkdir).  Two streaming queries appending to one table each get a
        distinct sid, so their data writes can never clobber each other;
        id order need not match commit order (the parent chain, not the
        numbering, defines history -- same as Iceberg snapshot ids).
        Data files land in :meth:`_snap_payload_dir`, NOT the claim dir
        itself -- see that method for why."""
        sid = self._next_sid(cur)
        base = int(sid[5:])
        for i in range(10_000):
            candidate = f"snap-{base + i:010d}"
            claim_dir = os.path.join(self.table_dir, "data", candidate)
            try:
                os.makedirs(claim_dir)
            except FileExistsError:
                continue
            # Ownership sentinel: until the commit lands, this dir is
            # indistinguishable from a crash leftover to maintenance.  The
            # age guard (min_age_seconds) covers cross-host writers; the
            # sentinel makes SAME-HOST liveness explicit, so expire/vacuum
            # never destroy an in-flight claim of a live process even at
            # min_age_seconds=0 (see _claim_owner_alive).  Written via
            # tmp+rename so a concurrent maintenance read can never see a
            # partial JSON (which would read as "no owner"); the
            # mkdir-to-rename gap is covered by maintenance's hard age
            # floor on unreferenced dirs.
            try:
                tmp = os.path.join(claim_dir, f".CLAIM.{uuid.uuid4().hex}")
                with open(tmp, "w") as f:
                    json.dump(
                        {
                            "pid": os.getpid(),
                            "host": socket.gethostname(),
                            "ts": time.time(),
                        },
                        f,
                    )
                os.replace(tmp, os.path.join(claim_dir, "CLAIM.json"))
            except OSError:  # pragma: no cover - sentinel is best-effort
                pass
            return candidate
        raise RuntimeError("could not allocate a snapshot id")  # pragma: no cover

    def _abort_claim(self, sid: str, defer_delete: bool = False) -> None:
        """Remove an uncommitted claim (dir + CoW change sidecar): a
        failed or aborted commit must not leave a live-pid-protected dir
        behind -- the owning driver may run for weeks, and
        _claim_owner_alive would shield the wreckage from vacuum the
        whole time (the age guard it replaced reclaimed it in an hour).

        ``defer_delete=True`` is for callers HOLDING the commit lock (the
        CoW/compaction conflict paths): the dirs are O(1)-condemned into
        .trash and the physical delete happens after the lock is released
        -- by the raiser's own conflict handler when it has one, else by
        the next _empty_trash (any maintenance pass or conflict)."""
        data = os.path.join(self.table_dir, "data")
        for path in (
            os.path.join(data, sid),
            os.path.join(data, f"{sid}-changes"),
            # an aborted attempt's quarantine rows too: the sid never
            # committed, and a rebase retry re-quarantines the same
            # violating rows under its new sid -- leaving the old dir
            # would double-count them in read_quarantine forever
            os.path.join(self.table_dir, "quarantine", sid),
        ):
            if not os.path.isdir(path):
                continue
            try:
                self._condemn(path)
            except OSError:  # pragma: no cover - cross-device fallback
                shutil.rmtree(path, ignore_errors=True)
        if not defer_delete:
            self._empty_trash()

    @contextmanager
    def _conflict_trash(self):
        """Empty the .trash area after a ConcurrentWriteConflict escapes a
        commit-lock block: the losing attempt condemned its claim UNDER
        the lock (O(1) renames); this does the physical delete once the
        lock is released.  Compose as
        ``with self._conflict_trash(), self._commit_lock():``."""
        try:
            yield
        except ConcurrentWriteConflict:
            self._empty_trash()
            raise

    @contextmanager
    def _claim_guard(self, sid: str):
        """Abort ``sid``'s claim when the guarded write phase raises (a
        mid-job Spark failure leaves partial files under a dir vacuum can
        no longer age out)."""
        try:
            yield
        except BaseException:
            self._abort_claim(sid)
            raise

    def _claim_owner_alive(self, snap_dir: str) -> bool:
        """True when ``snap_dir``'s CLAIM.json names a process that is
        still alive ON THIS HOST -- maintenance must then treat the dir as
        an in-flight commit regardless of its age.  A dead pid, a foreign
        host, or a missing/corrupt sentinel returns False and the caller
        falls back to the ``min_age_seconds`` heuristic.  (Pid reuse can
        only produce a false ALIVE -- the safe direction: the dir is
        retained until the next maintenance pass after that pid exits.)

        Sidecar dirs (``data/<sid>-changes``, written by the CoW change
        path as a SIBLING of the claim dir) carry no sentinel of their
        own: their ownership follows the base sid's CLAIM.json, so an
        in-flight CoW merge's sidecar is protected exactly as long as its
        claim is."""
        path = os.path.join(snap_dir, "CLAIM.json")
        if not os.path.exists(path):
            base = re.match(r"(snap-\d+)-.+$", os.path.basename(snap_dir))
            if base:
                path = os.path.join(
                    os.path.dirname(snap_dir), base.group(1), "CLAIM.json"
                )
        try:
            with open(path) as f:
                claim = json.load(f)
            if claim.get("host") != socket.gethostname():
                return False
            pid = int(claim["pid"])
        except (OSError, ValueError, KeyError, TypeError):
            return False
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return False
        except PermissionError:  # pragma: no cover - exists, not ours
            return True
        return True

    @contextmanager
    def _commit_lock(self):
        """Inter-process exclusive lock around the manifest read-reconcile-
        commit critical section (flock: works across processes AND across
        threads, each holding its own fd).  Held only for driver-side
        metadata work -- data-file writes happen OUTSIDE the lock, so N
        concurrent streams overlap their Spark jobs and serialize only the
        O(touched-buckets) manifest swap.  Single-writer tables pay one
        uncontended flock per commit (~microseconds)."""
        import fcntl

        path = os.path.join(self.table_dir, "COMMIT.lock")
        fd = os.open(path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _reduce(self, df: DataFrame) -> DataFrame:
        """The table's per-key consolidation: full-row LWW max-(ts,_seq)
        by default, the per-column partial-update fold when the table
        records ``merge_mode='partial'`` (both associative, so read-time
        MoR reduction, compaction folds, and CoW rewrites may apply them
        in any grouping)."""
        if self.merge_mode == "partial":
            return fold_partial_states(df, key=self.key)
        return dedup_latest(df, key=self.key, order=_VERSION_ORDER)

    def _align(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Null-backfill columns of ``schema`` the batch lacks (a source
        replaying pre-evolution rows after the table schema has evolved),
        and cast columns whose type was WIDENED (int->long, float->double
        -- merge_schemas allows only safe promotions) so every written
        file carries the current schema's types."""
        have = {f.name: f.dataType for f in df.schema.fields}
        missing = [f for f in schema.fields if f.name not in have]
        if missing:
            df = df.withColumns(
                {f.name: F.lit(None).cast(f.dataType) for f in missing}
            )
        widened = {
            f.name: F.col(f.name).cast(f.dataType)
            for f in schema.fields
            if f.name in have and have[f.name] != f.dataType
        }
        if widened:
            df = df.withColumns(widened)
        return df

    def _write_bucketed(
        self,
        df: DataFrame,
        sid: str,
        n_partitions: int,
        schema: T.StructType,
    ) -> dict[str, list[str]]:
        """Write rows partitioned by bucket under a snapshot-unique dir;
        return {bucket: [files]}."""
        snap_dir = self._snap_payload_dir(sid)
        out_cols = [f.name for f in schema.fields] + [_BUCKET]
        with _observed_write_conf(df.sparkSession):
            self._delta_writer(
                self._align(df, schema)
                .select(*out_cols)
                .repartition(max(n_partitions, 1), F.col(_BUCKET))
            ).partitionBy(_BUCKET).parquet(snap_dir)
        return self._scan_partitioned_output(snap_dir)

    def _dedup_write_bucketed(
        self,
        df: DataFrame,
        sid: str,
        n_partitions: int,
        schema: T.StructType,
        fanout_map: dict[int, int] | None = None,
        sort_output: bool = False,
        purge_before: str | None = None,
        expire_before: str | None = None,
        cluster_expr=None,
        combine_first: bool = False,
        num_buckets: int | None = None,
        bloom: bool = False,
    ) -> dict[str, list[str]]:
        """Dedup + bucket-clustered write (the compaction/CoW hot path).
        ``df`` carries ``_bucket``.  ``bloom=True`` writes a parquet
        footer bloom of the leading key (see ``BLOOM_MAX_BYTES``).

        ``combine_first=True`` (large folds -- see ``_fold_combine_first``)
        runs the LWW reduction as a plain ``groupBy(_bucket, key...)``
        so Spark plans a MAP-SIDE partial aggregate before the exchange,
        then moves the surviving winners to their buckets with a second,
        winners-only exchange.  Why: the one-exchange shape hash-
        partitions the RAW rows by ``_bucket`` alone, and (a) a Zipf-hot
        leading key (FIXTURES.md: rank-1 conversation holds ~18% of all
        events) lands its entire mass on ONE reduce task -- AQE skew
        handling splits joins, never aggregations -- and (b) with
        n_groups == n_partitions, balls-into-bins leaves ~1/e of the
        reduce tasks empty and doubles others.  The partial aggregate
        collapses the hot key to one row per map task BEFORE any byte is
        shuffled (guide: "aggregate before you shuffle"), so the first
        exchange carries the combined rows (LESS than the raw log under
        Zipf duplication) and the second only |winners|.  Measured at
        40M events / 32 cores: 21.2s -> 12.4s for the fold write, with
        per-task skew gone (max/median reduce task ~1.1 vs ~10) and one
        output file per bucket preserved.  Small folds keep the
        one-exchange shape: below ``FOLD_COMBINE_MIN_BYTES`` (2 MiB of
        input) the straggler costs milliseconds and the extra exchange
        is pure overhead.  ``combine_first`` needs ``num_buckets``: the
        combine groups on the key alone and recomputes the bucket from
        it (see below).

        ``cluster_expr`` (a Column over the payload schema, e.g. a Morton
        key from :mod:`fetchez_spark.plans.zorder`): after the fold, the
        winners take a SECOND range Exchange on (_bucket, cluster_expr)
        and a local sort, so each bucket's output files cover disjoint
        slabs of the clustered space.  Two Exchanges total -- one more
        than plain compaction, the same shape as Delta OPTIMIZE ZORDER;
        the expression cannot join the fold's grouping (it is a function
        of the payload, grouping by it would break LWW), so the second
        pass is inherent, and it moves only the WINNERS (post-LWW rows),
        not the raw log.

        ``purge_before``: tombstone-GC horizon (ISO timestamp) -- WINNER
        rows that are tombstones older than the horizon are dropped from
        the output.  Only valid when the fold covers EVERY file that can
        hold the key (major compaction): dropping a tombstone while an
        older row of its key survives elsewhere would resurrect the key.

        ``sort_output=True`` swaps the hash Exchange for a RANGE Exchange
        on (_bucket, key...) -- still exactly ONE shuffle, because
        RangePartitioning on the grouping columns satisfies the grouped
        reduction's ClusteredDistribution -- then locally sorts the
        winners before the write.  Result: within a bucket, output files
        cover DISJOINT key ranges (file-level skipping for point lookups)
        and rows inside each file are key-ordered (tight parquet
        row-group min/max => row-group skipping).  File sizing emerges
        from the range sampler's size-balanced splits, so the key-hash
        salt path is not used.

        Default (small-fold) plan shape: a single Exchange on
        ``_bucket``, then the max-(ts,_seq) reduction grouped by
        (_bucket, key...) runs BUCKET-LOCALLY -- HashPartitioning(
        _bucket) satisfies ClusteredDistribution(_bucket, key...)
        because the partitioning columns are a subset of the grouping
        columns -- and the partitionBy write needs no second repartition
        because each task already holds exactly one bucket.  The naive
        compose (dedup_latest shuffles on the key, _write_bucketed
        shuffles again on the bucket) moves the whole RAW table TWICE;
        this version moves it once (asserted by
        tests/test_plans.py::test_compaction_single_shuffle), and
        ``combine_first`` moves the raw table's combined form once plus
        the winners once -- under Zipf duplication fewer total bytes
        than the raw table, with no hot-key reducer.
        """
        aligned = self._align(df, schema)
        order = _VERSION_ORDER
        others = [f.name for f in schema.fields if f.name not in order]
        big = F.struct(*[F.col(c) for c in order], *[F.col(c) for c in others])
        if self.merge_mode == "partial":
            # same grouping/Exchange shapes below, different reduction:
            # the per-column partial fold's aggregate list + row
            # reconstruction (operators/partial.py) replace max(struct)
            pcols = partial_cols_of([f.name for f in schema.fields])
            aggs = partial_agg_exprs(pcols)
            finish = partial_finish_exprs(pcols)

            def _finish(won: DataFrame) -> DataFrame:
                named = set(finish) | set(self.key) | {_BUCKET}
                sel = [F.col(_BUCKET), *[F.col(k) for k in self.key]] + [
                    expr.alias(name) for name, expr in finish.items()
                ]
                # schema fields the fold does not reconstruct: orphan
                # version pairs are possible (a batch column arriving
                # all-null gets its pair before the column itself earns a
                # type) and are null by construction; anything else is a
                # drift bug
                for f in schema.fields:
                    if f.name in named:
                        continue
                    if is_partial_internal(f.name):
                        sel.append(F.lit(None).cast(f.dataType).alias(f.name))
                    else:
                        raise RuntimeError(
                            f"partial fold cannot reconstruct column {f.name!r}"
                        )
                return won.select(*sel)

        else:
            aggs = [F.max(big).alias("_w")]

            def _finish(won: DataFrame) -> DataFrame:
                return won.select(F.col(_BUCKET), F.col("_w.*"))

        if sort_output:
            key_cols = [F.col(k) for k in self.key]
            won = (
                aligned.repartitionByRange(
                    max(n_partitions, 1), F.col(_BUCKET), *key_cols
                )
                .groupBy(F.col(_BUCKET), *key_cols)
                .agg(*aggs)
                .sortWithinPartitions(F.col(_BUCKET), *key_cols)
            )
        elif fanout_map and any(k > 1 for k in fanout_map.values()):
            # target-file-size bin packing: split each bucket's output
            # into fanout_map[b] files via a KEY-HASH salt.  The salt is a
            # pure function of the key, so grouping by (_bucket, _salt,
            # key...) equals grouping by (_bucket, key...), and
            # HashPartitioning(_bucket, _salt) still satisfies the
            # grouped reduction -- ONE Exchange, exactly like the
            # unsalted plan, just more (right-sized) output files.
            kmap = F.create_map(
                *[
                    x
                    for b, k in sorted(fanout_map.items())
                    for x in (F.lit(int(b)), F.lit(int(k)))
                ]
            )
            kcol = F.coalesce(kmap[F.col(_BUCKET)], F.lit(1))
            salt = F.pmod(F.xxhash64(*[F.col(c) for c in self.key]), kcol)
            aligned = aligned.withColumn("_salt", salt)
            won = (
                aligned.repartition(
                    max(n_partitions, 1), F.col(_BUCKET), F.col("_salt")
                )
                .groupBy(F.col(_BUCKET), F.col("_salt"), *[F.col(k) for k in self.key])
                .agg(*aggs)
            )
        elif combine_first:
            # map-side partial aggregate (exchange on the full grouping
            # key) -- the winners-only move to their buckets happens
            # below, after the purge/TTL filters trim them further.
            # Group on the KEY ALONE: _bucket
            # is a pure function of key[0], so it adds nothing to the
            # groups -- and dropping it keeps the pmod(hash, num_buckets)
            # LITERAL out of the expensive map stage's generated code.
            # That makes the map-stage source byte-identical across
            # bucket counts, so the codegen cache (and the JVM's JIT
            # profile) warmed by ANY prior combine fold -- e.g. a
            # warm-up table with a different num_buckets -- carries over
            # to the first real fold, which otherwise runs its first
            # ~10s interpreted (measured: 475 vs 51 executor-CPU-seconds
            # for the session's first vs second fold of the same data
            # volume).  The bucket is recomputed on the winners only
            # (O(|winners|) hashes instead of O(rows)).
            won = (
                aligned.drop(_BUCKET)
                .groupBy(*[F.col(k) for k in self.key])
                .agg(*aggs)
                .withColumn(_BUCKET, self._bucket_expr(num_buckets))
            )
        else:
            won = (
                aligned.repartition(max(n_partitions, 1), F.col(_BUCKET))
                .groupBy(F.col(_BUCKET), *[F.col(k) for k in self.key])
                .agg(*aggs)
            )
        rows = _finish(won).select(*[f.name for f in schema.fields], _BUCKET)
        if purge_before is not None:
            rows = rows.filter(self._tombstone_keep_cond(purge_before))
        if expire_before is not None:
            rows = rows.filter(self._ttl_keep_cond(expire_before))
        if combine_first and not sort_output and cluster_expr is None:
            rows = rows.repartition(max(n_partitions, 1), F.col(_BUCKET))
        if cluster_expr is not None:
            rows = rows.repartitionByRange(
                max(n_partitions, 1), F.col(_BUCKET), cluster_expr
            ).sortWithinPartitions(F.col(_BUCKET), cluster_expr)
        snap_dir = self._snap_payload_dir(sid)
        writer = _data_writer(rows)
        if bloom:
            # the adaptive switch and the size cap are file-wide options,
            # read only for columns with a bloom
            writer = writer.options(
                **{
                    f"parquet.bloom.filter.enabled#{self.key[0]}": "true",
                    f"parquet.bloom.filter.candidates.number#{self.key[0]}":
                        str(self.BLOOM_CANDIDATES),
                    "parquet.bloom.filter.adaptive.enabled": "true",
                    "parquet.bloom.filter.max.bytes": str(self.BLOOM_MAX_BYTES),
                }
            )
        with _observed_write_conf(df.sparkSession):
            writer.partitionBy(_BUCKET).parquet(snap_dir)
        return self._scan_partitioned_output(snap_dir)

    # Fold-shape gate (see _dedup_write_bucketed's combine_first): above
    # the floor, folds run the map-side-combine shape that neutralizes
    # Zipf-hot keys; below it, the one-exchange shape is cheaper (the
    # straggler costs milliseconds there).  Scale-free: the gate follows
    # the fold's own input bytes, not machine or scale-factor constants.
    # 2 MiB, not 64: the gate sees COMPRESSED parquet bytes (zstd
    # deltas decode ~3x larger), and a measured 65 MB fold under the old
    # 64 MiB floor spent 226 task-seconds in the raw-shuffle reduce (Zipf
    # hot key + balls-into-bins) vs ~70 for the combine shape -- the
    # "milliseconds" regime where the extra exchange is pure overhead
    # ends in the low single-digit MiBs.  A low floor also keeps plan
    # SHAPES consistent across a session: a small warm-up table's fold
    # then compiles the same combine-shape codegen classes the first big
    # fold will run (see combine_first's num_buckets note), instead of
    # warming a plan the session never uses again.
    FOLD_COMBINE_MIN_BYTES = 2 * 1024 * 1024

    # Dictionary page cap for transient delta files (_delta_writer).
    # Parquet tries a dictionary per column chunk and falls back to plain
    # encoding once the dictionary outgrows this cap, so low-cardinality
    # columns (conv_id, role, tool, turn_idx, _src) keep their
    # dictionaries while near-unique ones (text, ts, _seq) give up after
    # 64 KiB instead of the 1 MiB default.  Measured on the three deltas
    # of a 96k-event flat replay, the same rows rewritten with only this
    # writer option changed (local[4], medians of 20 rewrites): dictionary
    # off 1,515,968 B; 64 KiB cap 1,332,449 B (-12.1%) at +7% encode
    # time, inside the run-to-run spread; 1 MiB default 1,350,660 B at
    # +21% encode -- the full attempt on the text payload, which once had
    # delta files skip dictionaries altogether.  Decode time is flat.
    # Fold bases, CoW change sidecars and exports keep the session
    # default.
    DELTA_DICT_PAGE_BYTES = 64 * 1024

    # Footer bloom of the leading key (compact(bloom=True)).  Unsized,
    # parquet-mr writes a 1 MiB bloom per row group.  The adaptive writer
    # keeps BLOOM_CANDIDATES blooms halving from BLOOM_MAX_BYTES
    # (1 MiB .. 512 B) and writes the smallest that holds the chunk's keys
    # at 1% false positives.  Measured (local[4]): a 131-file fold of a
    # 200k-event, 100k-conversation log grew 1,187,821 -> 1,328,977 B
    # (unsized: 138.6 MB); on one 300k-distinct-key file a 64 KiB cap
    # still scanned 95% of absent keys, this cap 0.7%.
    BLOOM_MAX_BYTES = 1024 * 1024
    BLOOM_CANDIDATES = 12

    def _fold_combine_first(self, files: list[str]) -> bool:
        """Should a fold over ``files`` pre-combine map-side?  True for
        large inputs (hot-key and balls-into-bins stragglers dominate),
        False below the byte floor (small tables keep today's single-
        exchange plan bit-for-bit)."""
        try:
            total = sum(os.path.getsize(f) for f in files)
        except OSError:
            return False
        return total >= int(self.FOLD_COMBINE_MIN_BYTES)

    @staticmethod
    def _scan_partitioned_output(snap_dir: str) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for entry in os.scandir(snap_dir):
            if entry.is_dir() and entry.name.startswith(f"{_BUCKET}="):
                b = entry.name.split("=", 1)[1]
                out[b] = [
                    os.path.join(entry.path, fn)
                    for fn in sorted(os.listdir(entry.path))
                    if fn.endswith(".parquet")
                ]
        return out

    @staticmethod
    def _ttl_keep_cond(expire_before: str):
        """Keep condition for row TTL: drop winners older than the
        horizon, tombstones included (anything that old is invisible to
        every read).  Null ts is kept -- expiry must be conservative."""
        return F.coalesce(
            F.col("ts") >= F.lit(expire_before).cast("timestamp"), F.lit(True)
        )

    @staticmethod
    def _tombstone_keep_cond(purge_before: str):
        """Keep condition for tombstone GC: drop rows that are tombstones
        AND older than the horizon.  Null-safe both ways (a null ts or
        null _deleted is never purged -- GC must be conservative)."""
        is_dead = F.coalesce(F.col(INTERNAL_DELETED), F.lit(False))
        is_old = F.coalesce(
            F.col("ts") < F.lit(purge_before).cast("timestamp"), F.lit(False)
        )
        return ~(is_dead & is_old)

    def _purge_horizon(self, cur: dict, explicit) -> str | None:
        """Resolve the effective tombstone-GC horizon for a major fold:
        the explicit ``purge_tombstones_before`` argument (datetime or ISO
        string) wins; else ``tombstone_retention_seconds`` against the
        manifest's event-time high watermark; else None (no purge)."""
        return self._event_time_horizon(
            cur, explicit, self.tombstone_retention_seconds
        )

    def _ttl_horizon(self, cur: dict, explicit=None) -> str | None:
        """Row-TTL horizon: explicit ``expire_rows_before`` wins, else
        ``row_ttl_seconds`` against the event-time high watermark."""
        return self._event_time_horizon(cur, explicit, self.row_ttl_seconds)

    @staticmethod
    def _event_time_horizon(cur: dict, explicit, retention_seconds) -> str | None:
        if explicit is not None:
            return (
                explicit.isoformat(sep=" ")
                if hasattr(explicit, "isoformat")
                else str(explicit)
            )
        if retention_seconds is None:
            return None
        hwm = cur.get("high_watermark")
        if not hwm:
            return None
        from datetime import datetime, timedelta

        try:
            t = datetime.fromisoformat(hwm)
        except ValueError:
            return None
        return (t - timedelta(seconds=retention_seconds)).isoformat(sep=" ")

    def _delta_writer(self, rows: DataFrame):
        """The writer of transient delta files, clustered and flat: the
        table data writer with the dictionary page capped at
        ``DELTA_DICT_PAGE_BYTES``."""
        return _data_writer(rows).option(
            "parquet.dictionary.page.size", str(self.DELTA_DICT_PAGE_BYTES)
        )

    def _write_flat(
        self,
        df: DataFrame,
        sid: str,
        schema: T.StructType,
        transient: bool = True,
    ) -> list[str]:
        """Write rows as flat files under a snapshot-unique dir (no
        clustering); return the file list.  The frame is coalesced to
        :func:`open_cost_partitions` of its plan's size estimate, so a
        small batch writes one file whatever its partitioning; a frame
        whose size the plan does not know keeps its partitions and
        writes one file per partition.  Each file is then sorted by
        ``(*key, ts, _seq)``: one sorted run in last-writer-wins order,
        so a key's versions sit next to each other and its dictionary
        and run-length encodings compress them together.
        ``transient=True`` (delta files, folded away at the next
        compaction) uses the delta writer; ``transient=False`` keeps the
        session writer for files that live as long as their snapshot
        (CoW change sidecars)."""
        snap_dir = self._snap_payload_dir(sid)
        rows = self._align(df, schema).select(*[f.name for f in schema.fields])
        # a small batch would otherwise write one small file per input
        # file or per core; coalesce never adds partitions, so large
        # inputs keep Spark's split plan
        n = open_cost_partitions(df)
        if n is not None:
            rows = rows.coalesce(n)
        rows = rows.sortWithinPartitions(*self.key, *_VERSION_ORDER)
        writer = self._delta_writer(rows) if transient else _data_writer(rows)
        writer.parquet(snap_dir)
        return [
            os.path.join(snap_dir, fn)
            for fn in sorted(os.listdir(snap_dir))
            if fn.endswith(".parquet")
        ]

    @staticmethod
    def _child_manifest(parent: dict, sid: str, stats: dict, /, **changes) -> dict:
        """The manifest of commit ``sid`` on top of ``parent`` -- the ONE
        inheritance rule every commit goes through.  The child carries
        every top-level key of the parent except ``snapshot_id``,
        ``parent``, :data:`_PER_COMMIT_KEYS` (a commit that inherited its
        parent's ``change_files`` would make read_changes emit that batch
        twice) and :data:`_RETIRED_KEYS` (nothing reads them; dropping
        them lets expiry free their blobs), including ``committed_at``,
        which :meth:`_commit` uses as the floor of the child's stamp.
        ``stats`` is this commit's tag; ``stats.delta_commits`` (the
        compaction cadence counter) carries over unless ``stats`` resets
        it.  ``changes`` replace keys wholesale."""
        child = {"snapshot_id": sid, "parent": parent["snapshot_id"]}
        child.update(
            (k, v)
            for k, v in parent.items()
            if k not in child
            and k not in _PER_COMMIT_KEYS
            and k not in _RETIRED_KEYS
        )
        child["stats"] = {
            "delta_commits": int((parent.get("stats") or {}).get("delta_commits", 0)),
            **stats,
        }
        child.update(changes)
        return child

    def _committed_with(self, parent: dict, token: str, sid: str) -> dict:
        """``parent``'s committed-token window plus ``token -> sid``; the
        oldest tokens past ``max_committed_tokens`` fall out."""
        committed = dict(parent["committed_batches"])
        committed[token] = sid
        for k in list(committed)[: max(0, len(committed) - self.max_committed_tokens)]:
            del committed[k]
        return committed

    def _commit_metadata(self, fn) -> dict | None:
        """One metadata-only commit (no data files): under the commit
        lock, ``fn(latest)`` returns ``(changes, stats)`` -- the keys to
        replace and this commit's stats tag -- or ``None`` to commit
        nothing.  Returns the committed manifest, or ``None``."""
        with self._commit_lock():
            latest = self.manifest()
            step = fn(latest)
            if step is None:
                return None
            changes, stats = step
            manifest = self._child_manifest(
                latest, self._claim_sid(latest), stats, **changes
            )
            self._commit(manifest)
        return manifest

    def _commit(self, manifest: dict) -> None:
        # wall-clock commit stamp for AS-OF-timestamp time travel.  The
        # manifest carries its parent's stamp (_child_manifest), so max()
        # keeps the chain STRICTLY monotone under clock steps and skew
        # between writers (Iceberg's snapshot timestamp-ms contract): every
        # snapshot stays resolvable by its own stamp.
        manifest["committed_at"] = max(
            time.time(), float(manifest.get("committed_at") or 0.0) + 1e-6
        )
        self._write_manifest(manifest)
        self._set_version(manifest["snapshot_id"])  # <- the atomic commit point

    # ------------------------------------------------ per-file statistics
    # Every per-file statistic a manifest records -- key_stats, col_stats,
    # ts_stats_new, bucket_rows -- and every footer check (ts_range, the
    # two purges, read_changes on files with no recorded entry) comes from
    # ONE reader of parquet FOOTER statistics, _footer_stats: driver-side,
    # no Spark job and no data scan (a fold's tombstone counts read one
    # boolean column, and only of files whose footer admits a tombstone;
    # see _footer_burst).  Files are immutable, so an entry can
    # never go stale-WRONG: a rewritten file simply stops being referenced
    # and its entry is trimmed at the next fold.  A file whose footer lacks
    # a statistic gets no entry and is read every time.  Entries ride
    # manifests inline when small, else as a content-addressed blob (same
    # primitive as file lists).
    _KEY_STATS_INLINE_MAX = 16
    # leading-key types whose footer ranges are JSON-safe manifest values;
    # other key types skip key_stats rather than corrupt the manifest
    _KEY_STATS_TYPES = (
        T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType,
        T.DoubleType, T.FloatType,
    )

    @staticmethod
    def _footer_stats(path: str, cols=()):
        """One footer read -> ``(num_rows, may_hold_tombstones, {col:
        [min, max] or None})``, or None when the footer is unreadable.  A
        column's range is exact -- the min/max over every row group -- or
        None when any row group lacks the statistic or a float bound is
        NaN.  Timestamps come back naive local time, the frame
        :meth:`_ts_bound` gives user bounds.  A file with no ``_deleted``
        statistic may hold tombstones."""
        import math

        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return None
        # keyed by dotted path: a nested leaf named like a top-level
        # column (``meta.ts``) must not stand in for it
        names = {md.schema.column(i).path: i for i in range(md.num_columns)}

        def _range(c):
            if c not in names:
                return None
            lo = hi = None
            try:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(names[c]).statistics
                    if st is None or st.min is None or st.max is None:
                        return None
                    mn, mx = st.min, st.max
                    if isinstance(mn, float) and (math.isnan(mn) or math.isnan(mx)):
                        return None
                    lo = mn if lo is None else min(lo, mn)
                    hi = mx if hi is None else max(hi, mx)
            except Exception:
                return None
            if lo is None:
                return None
            if getattr(lo, "tzinfo", None) is not None:
                lo = lo.astimezone(tz=None).replace(tzinfo=None)
                hi = hi.astimezone(tz=None).replace(tzinfo=None)
            return [lo, hi]

        dead = _range(INTERNAL_DELETED)
        may_dead = INTERNAL_DELETED not in names or (
            bool(dead[1]) if dead else md.num_row_groups > 0
        )
        return md.num_rows, may_dead, {c: _range(c) for c in cols}

    @classmethod
    def _footer_burst(
        cls, files: list[str], cols=(), count_dead: bool = False
    ) -> dict[str, Any]:
        """``{file: _footer_stats(file, cols)}``.  With ``count_dead`` the
        second field is the file's exact tombstone count instead: the
        ``_deleted`` column is read, driver-side, from files whose footer
        says they may hold tombstones (usually none), and a file whose
        column cannot be read gets None like an unreadable footer.
        pyarrow releases the GIL for the parse, so past 8 files a thread
        pool turns O(files) serial driver reads into one short parallel
        burst."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def read(f):
            st = cls._footer_stats(f, cols)
            if not count_dead or st is None:
                return st
            if not st[1]:
                return st[0], 0, st[2]
            try:
                dead = pq.read_table(f, columns=[INTERNAL_DELETED]).column(0)
            except (OSError, pa.ArrowException):
                return None
            return st[0], int(pc.sum(dead).as_py() or 0), st[2]

        if len(files) > 8:
            with ThreadPoolExecutor(16) as ex:
                return dict(zip(files, ex.map(read, files)))
        return {f: read(f) for f in files}

    @staticmethod
    def _json_ranges(fstats: dict, cols, files=None) -> dict[str, dict]:
        """``{file: {col: [min, max]}}`` over ``files`` (default: all of
        ``fstats``) for the columns each footer bounds, temporal bounds as
        ISO strings -- the form every manifest statistic records.  A file
        with no bounded column gets no entry."""
        from datetime import date

        out: dict[str, dict] = {}
        for f in fstats if files is None else files:
            s = fstats.get(f)
            entry = {
                c: [str(v) if isinstance(v, date) else v for v in rng]
                for c in cols
                if s and (rng := s[2].get(c))
            }
            if entry:
                out[f] = entry
        return out

    @classmethod
    def _range_overlaps(cls, rng, lo, hi) -> bool:
        """Can a file whose recorded or footer range is ``rng`` (``[min,
        max, ...]``) hold a value in ``[lo, hi]``?  None is an open end; a
        point lookup passes ``lo == hi``.  ISO-string bounds compare as
        timestamps against datetime query bounds.  A malformed, null or
        mismatched entry keeps the file: pruning must be safe by
        construction."""
        from datetime import datetime

        try:
            mn, mx = rng[0], rng[1]
            if mn is None or mx is None:
                return True
            if isinstance(mn, str) and isinstance(hi if lo is None else lo, datetime):
                mn, mx = cls._ts_bound(mn), cls._ts_bound(mx)
            return not (
                (hi is not None and mn > hi) or (lo is not None and mx < lo)
            )
        except (TypeError, ValueError, IndexError):
            return True

    # {file_path: [min_leading_key, max_leading_key]} recorded by sorted
    # folds (sort_on_compact / compact(sort=True), rebucket(sort=True))
    # and import_files(collect_stats=True), from footer statistics.
    def _pack_key_stats(self, stats: dict[str, list]) -> dict | str:
        if len(stats) <= self._KEY_STATS_INLINE_MAX:
            return stats
        return self._pack_blob(stats)

    def key_stats(self, manifest: dict | None = None) -> dict[str, list]:
        """Resolved per-file [min,max] leading-key ranges (empty when no
        sorted compaction has run)."""
        m = manifest or self.manifest()
        val = m.get("key_stats")
        if not val:
            return {}
        return val if isinstance(val, dict) else self._resolve_blob(val)

    def _stats_key(self, schema: T.StructType) -> list[str]:
        """``[leading key]`` when ``schema`` gives it a JSON-safe type
        (:data:`_KEY_STATS_TYPES`), else ``[]``."""
        k0 = self.key[0]
        return [k0] if isinstance(schema[k0].dataType, self._KEY_STATS_TYPES) else []

    def _prune_by_key_stats(
        self, m: dict, files: list[str], value
    ) -> list[str]:
        """Drop files whose recorded leading-key range excludes ``value``.
        Files with no recorded range are always kept (MoR deltas, unsorted
        bases)."""
        stats = self.key_stats(m)
        if not stats:
            return files
        return [
            f for f in files
            if f not in stats or self._range_overlaps(stats[f], value, value)
        ]

    # {file: {col: [min, max]}} recorded by z-order clustering
    # (compact(cluster_by=[...])) from footer statistics -- exact for the
    # numeric and temporal columns cluster_by accepts.
    def col_stats(self, manifest: dict | None = None) -> dict[str, dict]:
        """Resolved per-file {col: [min, max]} ranges for cluster columns
        (empty when no z-order compaction has run)."""
        m = manifest or self.manifest()
        val = m.get("col_stats")
        if not val:
            return {}
        return val if isinstance(val, dict) else self._resolve_blob(val)

    def _file_hints_overlap(self, entry: dict | None, hints: dict) -> bool:
        """True unless some hinted column's recorded range provably
        excludes the whole query slab.  cluster_by admits only numeric
        and temporal columns, so a string range is an ISO timestamp or
        date, and its hint bounds compare as timestamps."""
        for c, (lo, hi) in hints.items():
            rng = (entry or {}).get(c)
            if rng and isinstance(rng[0], str):
                try:
                    lo, hi = self._ts_bound(lo), self._ts_bound(hi)
                except (TypeError, ValueError, AttributeError):
                    continue
            if not self._range_overlaps(rng, lo, hi):
                return False
        return True

    # ------------------------------------------------ metadata row counts
    # manifest["bucket_rows"] = {bucket: {"rows", "dead", "sig"}} recorded
    # by major compaction for the buckets it folds.  "sig" fingerprints
    # the bucket's base file list, so an entry self-invalidates the
    # moment ANY rewrite (CoW merge, rebucket, another fold) changes the
    # bucket -- no writer-side invalidation protocol needed.  A bucket's
    # entry answers count() when the bucket has no pending deltas (its
    # base then holds exactly the per-key winners): live = rows - dead.
    # The Iceberg "SELECT count(*) from manifests" shape.
    @staticmethod
    def _bucket_sig(files: list[str]) -> str:
        import hashlib

        names = "\n".join(sorted(os.path.basename(f) for f in files))
        return hashlib.sha256(names.encode()).hexdigest()[:16]

    def _collect_bucket_rows(
        self, written: dict[str, list[str]], fstats: dict
    ) -> dict[str, dict]:
        """Per-bucket {rows, dead, sig} for just-written base files, from
        a ``count_dead`` footer burst ``fstats`` (see
        :meth:`_footer_burst`).  A bucket with an unreadable file gets no
        entry."""
        return {
            b: {
                "rows": sum(fstats[f][0] for f in fs),
                "dead": sum(fstats[f][1] for f in fs),
                "sig": self._bucket_sig(fs),
            }
            for b, fs in written.items()
            if all(fstats.get(f) is not None for f in fs)
        }

    def count_rows(
        self, spark: SparkSession | None = None, snapshot_id: str | None = None
    ) -> int:
        """Live row count (non-tombstone winners -- exactly
        ``read(spark).count()``), answered from manifest statistics where
        possible.  A bucket counts from metadata when it has no pending
        deltas AND its recorded stats signature matches its current file
        list; remaining buckets fall back to a bucket-pruned scan.  With
        ``spark=None`` the count must be FULLY metadata-answerable (the
        normal state of a compacted table) or ValueError names the
        buckets that are not."""
        m = self.manifest(snapshot_id)
        if self.row_ttl_seconds is not None and self._ttl_horizon(m) is not None:
            # logical row TTL hides winners the recorded bucket_rows still
            # count -- the metadata shortcut would overcount until the
            # expired rows are physically purged (purge_expired)
            if spark is None:
                raise ValueError(
                    "count is not metadata-answerable with an active row "
                    "TTL (logical expiry); pass a SparkSession, or run "
                    "purge_expired + recount"
                )
            return self.read(spark, snapshot_id=snapshot_id).count()
        base_map, delta_map = m["files"], m.get("deltas", {})
        br = m.get("bucket_rows", {})
        flat = self._resolve_list(delta_map.get(_FLAT, []))
        buckets = sorted(set(base_map) | set(delta_map) - {_FLAT})
        total = 0
        scan: list[int] = []
        for b in buckets:
            entry = br.get(b)
            bfiles = self._resolve_list(base_map.get(b, []))
            deltas = self._resolve_list(delta_map.get(b, []))
            if (
                not flat
                and not deltas
                and entry
                and entry.get("sig") == self._bucket_sig(bfiles)
            ):
                total += int(entry["rows"]) - int(entry["dead"])
            else:
                scan.append(int(b))
        if scan:
            if spark is None:
                raise ValueError(
                    f"count is not metadata-answerable for buckets {scan[:8]}"
                    f"{'...' if len(scan) > 8 else ''} (pending deltas or no "
                    "stats); pass a SparkSession to scan them, or compact"
                )
            total += self.read(spark, snapshot_id=snapshot_id, buckets=scan).count()
        return total

    def ts_range(
        self, spark: SparkSession | None = None, snapshot_id: str | None = None
    ):
        """Event-time range ``(min_ts, max_ts)`` of the live rows --
        exactly ``read(spark).agg(min(ts), max(ts))`` -- answered from
        parquet FOOTER statistics where possible (the Iceberg
        min/max-from-manifests shape; driver-side, no Spark job).

        A bucket is footer-answerable when it has no pending deltas, its
        recorded stats signature matches its file list, it holds no
        tombstone winners (``dead == 0`` -- a dead row's ts would pollute
        the bounds), and every base file's footer carries exact ts stats
        and provably no ``_deleted`` rows.  Remaining buckets fall back
        to a bucket-pruned scan; with ``spark=None`` the range must be
        FULLY footer-answerable (the normal state of a compacted, purged
        table) or ValueError names the buckets.  Refuses the shortcut
        under an active row TTL (logical expiry hides rows whose ts the
        footers still bound).  Returns ``(None, None)`` for an empty
        table."""
        m = self.manifest(snapshot_id)
        if self.row_ttl_seconds is not None and self._ttl_horizon(m) is not None:
            if spark is None:
                raise ValueError(
                    "ts_range is not footer-answerable with an active row "
                    "TTL (logical expiry); pass a SparkSession, or run "
                    "purge_expired first"
                )
            row = (
                self.read(spark, snapshot_id=snapshot_id)
                .agg(F.min("ts"), F.max("ts"))
                .collect()[0]
            )
            return row[0], row[1]
        base_map, delta_map = m["files"], m.get("deltas", {})
        br = m.get("bucket_rows", {})
        flat = self._resolve_list(delta_map.get(_FLAT, []))
        buckets = sorted(set(base_map) | set(delta_map) - {_FLAT})
        lo = hi = None
        scan: list[int] = []
        for b in buckets:
            entry = br.get(b)
            bfiles = self._resolve_list(base_map.get(b, []))
            deltas = self._resolve_list(delta_map.get(b, []))
            ok = (
                not flat
                and not deltas
                and entry
                and entry.get("sig") == self._bucket_sig(bfiles)
                and int(entry.get("dead", 0)) == 0
            )
            blo = bhi = None
            if ok:
                for f in bfiles:
                    fs = self._footer_stats(f, ["ts"])
                    if fs is None or fs[1] or fs[2]["ts"] is None:
                        ok = False
                        break
                    fmn, fmx = fs[2]["ts"]
                    blo = fmn if blo is None else min(blo, fmn)
                    bhi = fmx if bhi is None else max(bhi, fmx)
            if ok:
                if blo is not None:
                    lo = blo if lo is None else min(lo, blo)
                    hi = bhi if hi is None else max(hi, bhi)
            else:
                scan.append(int(b))
        if scan:
            if spark is None:
                raise ValueError(
                    f"ts_range is not footer-answerable for buckets "
                    f"{scan[:8]}{'...' if len(scan) > 8 else ''} (pending "
                    "deltas, tombstone winners, or missing footer stats); "
                    "pass a SparkSession to scan them, or compact with "
                    "tombstone purge"
                )
            row = (
                self.read(spark, snapshot_id=snapshot_id, buckets=scan)
                .agg(F.min("ts"), F.max("ts"))
                .collect()[0]
            )
            if row[0] is not None:
                smn = self._ts_bound(row[0])
                smx = self._ts_bound(row[1])
                lo = smn if lo is None else min(lo, smn)
                hi = smx if hi is None else max(hi, smx)
        return lo, hi

    # -------------------------------------------------------------- reading
    def read(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        include_internal: bool = False,
        buckets: list[int] | None = None,
        key_eq=None,
        include_deleted: bool = False,
        key_in: DataFrame | None = None,
        range_hints: dict | None = None,
        logical: bool = True,
        include_expired: bool = False,
        include_provenance: bool = False,
    ) -> DataFrame:
        """``key_eq``: leading-key point-read hint.  Base files whose
        recorded key range (see :meth:`key_stats`) excludes the value are
        skipped BEFORE the scan -- file-level pruning on top of bucket
        pruning -- and the equality filter is pushed into the scan, where
        footer blooms (``compact(bloom=True)``) and dictionaries skip row
        groups.  Safe on any table: files without stats are always read.

        ``range_hints``: {col: (lo, hi)} slab predicate over PAYLOAD
        columns (inclusive bounds, None = open end; timestamp bounds as
        datetime or ISO string).  The predicate is applied to the FINAL
        state (post-LWW-reduction, so a key whose winner falls outside
        the slab never resurfaces via a stale in-slab row), and base
        files whose recorded column ranges (see :meth:`col_stats`, from
        ``compact(cluster_by=...)``) exclude the slab are skipped before
        the scan.  File pruning on non-key columns is only sound when no
        other file can hold a row of the same key, so it applies
        per-bucket ONLY to buckets with zero pending deltas (a fully
        compacted bucket's base holds exactly one row per key); buckets
        with deltas are read in full and filtered -- correct either way,
        fast after compaction.

        ``include_deleted=True`` keeps tombstone rows in the result (the
        per-key LWW winner may BE a tombstone) -- for consumers that need
        the full key state, e.g. the change feed's pre-state comparison.

        ``key_in``: a DataFrame of key columns restricting the read to
        those keys via a broadcast semi-join applied BEFORE the MoR
        reduction (correct because the per-key LWW winner is computed
        from that key's rows alone).  Turns a point-set read into a scan
        + broadcast filter instead of a full-table dedup shuffle.

        ``include_provenance=True`` appends two metadata columns (the
        Iceberg ``_file`` analog): ``_file`` — the data file the row's
        LWW winner was read from — and ``_sid`` — the snapshot id that
        wrote that file (parsed from the engine's ``data/<sid>/d`` path
        layout).  The column is attached at the scan and rides the MoR
        reduction inside the winner struct, so it names the file of the
        WINNING version, not an arbitrary one; on a compacted bucket it
        names the compaction's output file (the row's bytes really do
        live there — same as Iceberg after a rewrite).  Refused on
        ``merge_mode='partial'`` tables: the per-column fold consolidates
        one row from many files, so a single winning file does not
        exist."""
        m = self.manifest(snapshot_id)
        schema = T.StructType.fromJson(m["schema"])
        lmap = m.get("logical_names") or {}
        if lmap:
            # parameters arrive in LOGICAL names; the scan below runs in
            # physical space (files never change names)
            rev = {l: p for p, l in lmap.items() if l != p}
            if range_hints:
                range_hints = {rev.get(c, c): v for c, v in range_hints.items()}
            if key_in is not None:
                ren = {l: p for l, p in rev.items() if l in key_in.columns}
                if ren:
                    key_in = key_in.withColumnsRenamed(ren)
        base_map, delta_map = m["files"], m.get("deltas", {})
        keys = (
            [str(b) for b in buckets]
            if buckets is not None
            else sorted(set(base_map) | set(delta_map) - {_FLAT})
        )
        # resolve ONLY the selected buckets' list refs: pruned reads touch
        # O(selected) metadata, not O(table)
        rbase = self._resolve_map(base_map, keys)
        rdelta = self._resolve_map(delta_map, [k for k in keys if k != _FLAT])
        # flat deltas are unclustered: always in scope (bucket-pruned reads
        # post-filter them through the reduction)
        flat_deltas = self._resolve_list(delta_map.get(_FLAT, []))
        cstats = self.col_stats(m) if range_hints else {}
        # multi-version buckets (recorded by the retired live-fraction
        # fold: base files that still hold superseded rows): slab pruning
        # is unsound there -- the winner and a stale in-slab row can live
        # in different files
        mvset = {str(x) for x in m.get("mv_buckets", [])}
        base = []
        for b in keys:
            bfiles = rbase.get(b, [])
            if cstats and not rdelta.get(b) and not flat_deltas and b not in mvset:
                # slab pruning: sound only for delta-less buckets (base
                # holds one row per key, so skipping a range-excluded
                # file cannot split a key across kept/skipped files)
                bfiles = [
                    f for f in bfiles
                    if self._file_hints_overlap(cstats.get(f), range_hints)
                ]
            base.extend(bfiles)
        deltas = [f for b in keys for f in rdelta.get(b, [])]
        deltas += flat_deltas
        if key_eq is not None:
            # point-read file skipping: correctness holds because the MoR
            # reduction is per-key and a range-excluded file provably
            # holds no row of this key
            base = self._prune_by_key_stats(m, base, key_eq)
            deltas = self._prune_by_key_stats(m, deltas, key_eq)
        df = self._read_files(
            spark, base + deltas, schema, imported=self._imported_set(m)
        )
        if include_provenance:
            if self.merge_mode == "partial":
                raise ValueError(
                    "include_provenance is not supported on "
                    "merge_mode='partial' tables: the per-column fold "
                    "consolidates one row from many files, so a single "
                    "winning file does not exist"
                )
            clash = {PROVENANCE_FILE, PROVENANCE_SID} & set(df.columns)
            if clash:
                raise ValueError(
                    f"include_provenance: table already has columns {sorted(clash)}"
                )
            df = df.withColumn(PROVENANCE_FILE, F.input_file_name())
        if key_eq is not None:
            # before the MoR reduction: the predicate is on a grouping key,
            # so it reaches the parquet scan (PushedFilters) and the
            # sorted files' row-group min/max skip everything else
            df = df.filter(F.col(self.key[0]) == F.lit(key_eq))
        if delta_map.get(_FLAT) and buckets is not None:
            # flat delta files are unclustered; a bucket-pruned read must
            # post-filter them to the requested buckets
            df = df.filter(self._bucket_expr(m["num_buckets"]).isin([int(b) for b in keys]))
        if key_in is not None:
            # full key, or a LEADING PREFIX of it (e.g. conv_id alone on a
            # (conv_id, turn_idx) table): restricting by a prefix keeps
            # every row of any key sharing it, so the per-key LWW winner
            # below is still computed from all of that key's rows
            on = [c for c in self.key if c in key_in.columns]
            if not on or on != self.key[: len(on)]:
                raise ValueError(
                    f"key_in columns {key_in.columns} must cover the key "
                    f"{self.key} or a leading prefix of it"
                )
            df = df.join(
                F.broadcast(key_in.select(*on).dropDuplicates()),
                on=on,
                how="left_semi",
            )
        if deltas or (mvset and mvset & set(keys)):
            # merge-on-read: the same per-key reduction the writer would
            # have applied at compaction time (full-row LWW, or the
            # per-column partial fold on merge_mode='partial' tables).
            # Multi-version buckets (recorded by the retired live-fraction
            # fold: superseded base rows) need it even with zero pending
            # deltas.
            df = self._reduce(df)
        if not include_deleted:
            df = df.filter(~F.col(INTERNAL_DELETED))
        if range_hints:
            # residual slab filter on the FINAL state; on a compacted
            # table there is no reduction above the scan, so these
            # predicates push to the parquet scan and the z-ordered
            # files' tight row-group min/max skip within kept files too
            for c, (lo, hi) in range_hints.items():
                dt = schema[c].dataType if c in schema.names else None
                coerce = (
                    self._ts_bound
                    if isinstance(dt, (T.TimestampType, T.TimestampNTZType))
                    else (lambda v: v)
                )
                if lo is not None:
                    df = df.filter(F.col(c) >= F.lit(coerce(lo)))
                if hi is not None:
                    df = df.filter(F.col(c) <= F.lit(coerce(hi)))
        if not include_internal:
            df = df.drop(*_internal_names(df.columns))
        if logical:
            # row TTL (public face only -- internal/physical consumers such
            # as mirror replication and the change feed's pre-state read
            # see raw truth): winners older than the snapshot's OWN
            # horizon are expired.  A plain codegen ts predicate -- on a
            # compacted table it sits directly on the scan and parquet
            # row-group min/max skip whole pages of expired history.
            # include_expired is the session escape hatch (triage/audit)
            # now that row_ttl_seconds persists as a table property --
            # parallel to include_deleted for tombstones
            ttl = (
                self._ttl_horizon(m)
                if self.row_ttl_seconds is not None and not include_expired
                else None
            )
            if ttl is not None:
                df = df.filter(
                    F.coalesce(
                        F.col("ts") >= F.lit(ttl).cast("timestamp"), F.lit(True)
                    )
                )
            df = self._to_logical(df, m)
        if include_provenance:
            # data/<sid>/d/... layout (see _snap_payload_dir); compaction
            # outputs carry the compacting snapshot's sid
            df = df.withColumn(
                PROVENANCE_SID,
                F.regexp_extract(F.col(PROVENANCE_FILE), r"data/(snap-\d+)/", 1),
            )
        return df

    # ------------------------------------------------------- column renames
    # Iceberg-grade rename WITHOUT rewriting a byte: data files keep their
    # original (PHYSICAL) column names forever; the manifest carries a
    # physical->logical map applied at the API boundary (read outputs,
    # incoming merge batches, predicate parameters).  Time travel shows
    # each snapshot under ITS OWN names (the map is per-manifest, carried
    # forward like the other catalog payloads).
    def _logical_map(self, m: dict | None = None) -> dict[str, str]:
        return (m or self.manifest()).get("logical_names") or {}

    def _to_logical(self, df: DataFrame, m: dict | None = None) -> DataFrame:
        ren = {
            p: l
            for p, l in self._logical_map(m).items()
            if p != l and p in df.columns
        }
        return df.withColumnsRenamed(ren) if ren else df

    def _logical_name(self, physical: str, m: dict | None = None) -> str:
        return self._logical_map(m).get(physical, physical)

    def rename_column(self, old: str, new: str) -> dict[str, Any]:
        """Rename a payload column -- METADATA-ONLY (one manifest commit,
        zero data movement; the Iceberg ``RENAME COLUMN`` analog).  Old
        files keep the physical name; reads, merges, predicates, and the
        change feed all speak the new name from this snapshot on, and
        time travel shows each snapshot under its own names.  ``ts``
        cannot be renamed (it defines LWW ordering and the engine's
        event-time surface); the OLD name becomes reserved -- a batch
        reusing it for a NEW column is a loud error, never silent
        corruption (see the merge guard).  Mirror replication ships the
        PHYSICAL layer (``read_changes(include_internal=True)`` stays
        physical) and the mirror adopts the source's rename map on sync,
        so replicas stay coherent on both layers."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"invalid column name {new!r}")
        if _is_internal_name(new):
            raise ValueError(f"{new!r} is an engine-internal name")
        if old == "ts" or new == "ts":
            raise ValueError(
                "'ts' cannot be renamed: it defines LWW ordering and the "
                "engine's event-time surface (watermarks, windows, stats)"
            )
        p = None

        def change(latest):
            nonlocal p
            schema = T.StructType.fromJson(latest["schema"])
            lmap = dict(latest.get("logical_names") or {})
            physicals = [
                f.name for f in schema.fields if not _is_internal_name(f.name)
            ]
            logical_now = {lmap.get(c, c): c for c in physicals}
            if old not in logical_now:
                raise ValueError(
                    f"no column named {old!r} (columns: {sorted(logical_now)})"
                )
            if new in logical_now:
                raise ValueError(f"column {new!r} already exists")
            if new in (latest.get("retired_columns") or []):
                raise ValueError(
                    f"{new!r} was dropped from this table and is retired "
                    "(stale values in pre-drop files); pick another name"
                )
            p = logical_now[old]
            if new == p:
                lmap.pop(p, None)  # renaming back to the own physical name
            elif new in physicals:
                # not a live logical name (checked above) but a physical
                # one => it was renamed away earlier and is RESERVED
                raise ValueError(
                    f"{new!r} is reserved by an earlier rename (it is the "
                    "physical name of a renamed column); pick another name"
                )
            else:
                lmap[p] = new
            return {"logical_names": lmap}, {"renamed": [old, new]}

        sid = self._commit_metadata(change)["snapshot_id"]
        return {"snapshot_id": sid, "renamed": {old: new}, "physical": p}

    def drop_column(self, name: str) -> dict[str, Any]:
        """Drop a payload column -- METADATA-ONLY, the Iceberg ``DROP
        COLUMN`` semantic: the field leaves the table schema in one
        manifest commit; existing files keep their bytes, and because
        every read projects the CURRENT schema (parquet name-based
        pruning), the column simply stops being read -- zero data
        movement.  Compaction folds write the current schema, so the
        bytes physically disappear as buckets rewrite.  The physical name
        is RETIRED: a later batch reusing it errors loudly (stale values
        in pre-drop files would resurrect under name-based projection).
        Key columns and ``ts`` cannot be dropped."""
        p = None

        def change(latest):
            nonlocal p
            schema = T.StructType.fromJson(latest["schema"])
            lmap = dict(latest.get("logical_names") or {})
            logical_now = {
                lmap.get(f.name, f.name): f.name
                for f in schema.fields
                if not _is_internal_name(f.name)
            }
            if name not in logical_now:
                raise ValueError(
                    f"no column named {name!r} (columns: {sorted(logical_now)})"
                )
            p = logical_now[name]
            if p in self.key or p == "ts":
                raise ValueError(
                    f"cannot drop {name!r}: key columns define row identity "
                    "and 'ts' defines LWW ordering"
                )
            # a partial-mode column takes its per-column version pair
            # with it (and retires the pair's names alongside its own)
            dead = {p}
            if self.merge_mode == "partial":
                from fetchez_spark.operators.partial import pv_seq, pv_ts

                dead |= {pv_ts(p), pv_seq(p)}
            new_schema = T.StructType(
                [f for f in schema.fields if f.name not in dead]
            )
            lmap.pop(p, None)
            retired = list(latest.get("retired_columns") or [])
            for d in sorted(dead):
                if d not in retired:
                    retired.append(d)
            return {
                "schema": new_schema.jsonValue(),
                "logical_names": lmap,
                "retired_columns": retired,
            }, {"dropped": [name]}

        sid = self._commit_metadata(change)["snapshot_id"]
        return {"snapshot_id": sid, "dropped": name, "physical": p}

    def set_logical_names(self, lmap: dict[str, str]) -> dict[str, Any]:
        """Replace the physical->logical rename map wholesale (one
        metadata commit).  Used by mirror replication to adopt the
        source's renames -- the mirror ships the PHYSICAL layer, so the
        source's map is directly valid on a replica.  Entries whose
        physical column the table does not (yet) have are kept: they
        become effective when the column arrives via schema evolution."""
        lmap = dict(lmap or {})
        m = self._commit_metadata(
            lambda latest: None
            if (latest.get("logical_names") or {}) == lmap
            else ({"logical_names": lmap}, {"renamed": ["<adopted>", "<adopted>"]})
        )
        if m is None:
            return {"snapshot_id": self.current_snapshot_id, "skipped": True}
        return {"snapshot_id": m["snapshot_id"], "logical_names": dict(lmap)}

    def read_quarantine(self, spark: SparkSession) -> DataFrame:
        """All rows quarantined by write-time expectations across commits,
        each carrying the original change-event columns plus
        ``_violations`` (the violated expectation names) and
        ``_batch_token``.  Empty (zero-column-safe minimal schema) when
        nothing was ever quarantined."""
        qroot = os.path.join(self.table_dir, "quarantine")
        subdirs = (
            [os.path.join(qroot, d) for d in sorted(os.listdir(qroot))]
            if os.path.isdir(qroot)
            else []
        )
        if not subdirs:
            return spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField(
                            "_violations", T.ArrayType(T.StringType()), True
                        ),
                        T.StructField("_batch_token", T.StringType(), True),
                    ]
                ),
            )
        return (
            spark.read.options(**VERIFY_PAGE_CRC)
            .option("mergeSchema", "true")
            .parquet(*subdirs)
        )

    def requeue_quarantine(self, spark: SparkSession, transform=None) -> dict:
        """Dead-letter replay: re-submit quarantined rows through the
        ordinary merge -- the operational other half of the quarantine
        gate (``read_quarantine`` is triage; this is the fix-and-retry).

        Each quarantined commit's rows (original change-event shape, the
        ``_violations``/``_batch_token`` triage columns dropped) merge as
        their own batch, optionally after ``transform(df) -> df`` repairs
        them (clamp a value, fill a null -- the usual reason they were
        gated).  The rows keep their ORIGINAL (ts, seq), so a requeued
        event that lost last-writer-wins while it sat in quarantine stays
        lost -- requeue never resurrects stale data.

        TODAY'S gates apply to the re-submission: rows still violating a
        ``quarantine`` gate re-quarantine under the new commit (the loop
        converges -- each pass keeps only still-bad rows), a still-failing
        ``fail`` gate aborts loudly with the source dir intact, and each
        source dir is removed only after its merge commits.  Exactly-once
        per source dir via a content-stable batch token (window-checked;
        a replay past the window is still state-idempotent because the
        events are identical under LWW).  Returns per-call counts +
        still-quarantined dirs (the re-gated residue)."""
        import shutil

        qroot = os.path.join(self.table_dir, "quarantine")
        sids = sorted(os.listdir(qroot)) if os.path.isdir(qroot) else []
        out = {"batches": 0, "requeued_rows": 0, "skipped_committed": 0}
        for sid in sids:
            qdir = os.path.join(qroot, sid)
            # trailing non-digit: no monotone-sequence watermark (source
            # sids can commit out of numeric order under multi-writer, so
            # a sequence watermark could silently skip an older requeue)
            token = f"requeue-{sid}-q"
            rows = (
                spark.read.options(**VERIFY_PAGE_CRC)
                .parquet(qdir)
                .drop("_violations", "_batch_token")
            )
            if transform is not None:
                rows = transform(rows)
            if self.is_committed(token):
                out["skipped_committed"] += 1
            else:
                res = self.merge(rows, batch_token=token)
                # the merge's own Observation already counted the batch;
                # fall back to one count job only when metrics are off
                n = res.get("rows_in")
                out["requeued_rows"] += int(
                    n if n is not None else rows.count()
                )
                out["batches"] += 1
            shutil.rmtree(qdir)
        out["still_quarantined"] = (
            sorted(os.listdir(qroot)) if os.path.isdir(qroot) else []
        )
        return out

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot: str,
        to_snapshot: str | None = None,
        include_internal: bool = False,
        ts_min=None,
        ts_max=None,
    ) -> DataFrame:
        """Incremental scan: the change rows appended AFTER ``from_snapshot``
        up to ``to_snapshot`` (default: current) -- the Iceberg
        incremental-read analog, so downstream consumers can tail the
        table instead of re-reading it.

        ``ts_min``/``ts_max`` (datetime or ISO string, inclusive) restrict
        the scan to an EVENT-TIME window: files whose parquet-footer ts
        range provably misses the window are skipped before the scan (one
        ranged footer read per candidate file, driver-side -- same
        asymptotic cost as the file listing already in hand; change files
        are near-disjoint in event time, so a narrow window touches few
        files), and the residual row filter is pushed to the parquet scan
        for the files that remain.  Files without footer stats are always
        read -- pruning is safe-by-construction.

        Implementation: set-difference of the two snapshots' file lists,
        restricted to files written by MERGE commits (compaction snapshots
        rewrite files without changing state and are skipped via their
        stats marker, so maintenance never re-emits rows).  Deletes appear
        as tombstone rows (``_deleted = true``) when ``include_internal``;
        the default projection filters them out and exposes upserts only.
        Cost: O(files added in the range) -- no full-table scan.

        Precision: exact for MoR tables (each merge's delta files hold
        exactly that batch's rows) AND for CoW tables with the default
        ``track_changes=True`` (each CoW commit persists its batch rows
        as a ``_changes`` sidecar -- O(batch) extra write next to the
        O(touched-table) rewrite -- which this scan prefers over the
        rewritten base files).  Only ``track_changes=False`` CoW tables
        fall back to the file-granular over-approximation.
        """
        to_snapshot = to_snapshot or self._version()
        added, _buckets, chain_stats = self._added_change_files(
            from_snapshot, to_snapshot
        )
        files = sorted(set(added))
        if ts_min is not None or ts_max is not None:
            lo, hi = self._ts_bound(ts_min), self._ts_bound(ts_max)
            # manifest-recorded per-commit stats first (zero extra IO --
            # they ride the manifests the chain walk already loaded);
            # footer read only for files with no recorded entry
            def _keep(f: str) -> bool:
                rng = chain_stats.get(f)
                if rng is None:
                    fs = self._footer_stats(f, ["ts"])
                    rng = fs and fs[2]["ts"]
                return self._range_overlaps(rng, lo, hi)

            files = [f for f in files if _keep(f)]
        schema = T.StructType.fromJson(self.manifest(to_snapshot)["schema"])
        df = self._read_files(
            spark, files, schema,
            imported=self._imported_set(self.manifest(to_snapshot)),
        )
        if ts_min is not None:
            df = df.filter(F.col("ts") >= F.lit(str(ts_min)).cast("timestamp"))
        if ts_max is not None:
            df = df.filter(F.col("ts") <= F.lit(str(ts_max)).cast("timestamp"))
        if not include_internal:
            # the public face speaks logical names; include_internal
            # consumers (mirror replication, engine internals) stay
            # PHYSICAL so replicas remain byte-coherent across renames
            return self._to_logical(
                df.filter(~F.col(INTERNAL_DELETED)).drop(*_internal_names(df.columns)),
                self.manifest(to_snapshot),
            )
        return df

    def _added_change_files(
        self, from_snapshot: str, to_snapshot: str
    ) -> tuple[list[str], list[int] | None, dict[str, list]]:
        """Walk the parent chain from ``to`` back to ``from``, collecting
        files added by merge commits (deltas for MoR, change sidecars or
        base rewrites for CoW) and the BUCKETS those additions touched.
        Returns (files, buckets, ts_stats) -- buckets is None when any
        addition's bucket is unknown (flat deltas, CoW sidecars), meaning
        a pre-image read cannot prune; ts_stats maps file paths to the
        [iso_min_ts, iso_max_ts, has_tombstones] each MERGE commit
        recorded for its own files at write time (``ts_stats_new``) --
        immutable per-commit metadata, so a windowed read prunes from the
        SAME manifests this walk already loads, no extra IO (the Iceberg
        per-manifest column-stats shape)."""
        added: list[str] = []
        buckets: set[int] | None = set()
        ts_stats: dict[str, list] = {}
        sid = to_snapshot
        chain_ok = False
        truncated = False
        nbs: set[int] = set()
        while sid is not None:
            if sid == from_snapshot:
                chain_ok = True
                break
            try:
                m = self.manifest(sid)
            except FileNotFoundError:
                truncated = True
                break  # chain truncated by expiry -> the loud error below
            nbs.add(int(m["num_buckets"]))
            tsn = m.get("ts_stats_new")
            if tsn:
                ts_stats.update(
                    tsn if isinstance(tsn, dict) else self._resolve_blob(tsn)
                )
            stats = m.get("stats", {})
            is_compaction = (
                "compacted_buckets" in stats
                or "minor_compacted_files" in stats
                or "rebucketed_from" in stats
            )
            if not is_compaction:
                if m.get("change_files"):
                    # CoW precise path: the commit's own change sidecar
                    # (flat files -- bucket membership unknown)
                    added.extend(self._resolve_list(m["change_files"]))
                    buckets = None
                else:
                    parent = m.get("parent")
                    pfiles: set[str] = set()
                    if parent is not None:
                        try:
                            pm = self.manifest(parent)
                        except FileNotFoundError:
                            truncated = True
                            break  # chain truncated -> the loud error below
                        for v in list(pm["files"].values()) + list(pm.get("deltas", {}).values()):
                            pfiles.update(self._resolve_list(v))
                    # flat deltas carry no per-file bucket label, but the
                    # merge that wrote them records the batch's bucket set
                    # in its own stats (delta_buckets) -- prefer that over
                    # giving up on pruning entirely
                    flat_buckets = (m.get("stats") or {}).get("delta_buckets")
                    for b, v in list(m["files"].items()) + list(m.get("deltas", {}).items()):
                        for f in self._resolve_list(v):
                            if f not in pfiles:
                                added.append(f)
                                if buckets is not None:
                                    if b == _FLAT and flat_buckets:
                                        buckets.update(
                                            int(x) for x in flat_buckets
                                        )
                                    elif b == _FLAT:
                                        buckets = None
                                    else:
                                        buckets.add(int(b))
            sid = m.get("parent")
        if not chain_ok:
            if truncated:
                raise HistoryExpiredError(
                    f"cannot read changes {from_snapshot!r} -> "
                    f"{to_snapshot!r}: part of the parent chain expired "
                    "(expire_snapshots removed it) before reaching the "
                    "start snapshot -- re-read from current state, or "
                    "register_consumer to retain the chain"
                )
            raise ValueError(
                f"{from_snapshot!r} is not an ancestor of {to_snapshot!r} "
                "(expired or on an abandoned rollback branch)"
            )
        if buckets is not None and nbs:
            # a rebucket inside the range renumbers buckets: ids collected
            # under the NEW layout must not prune the OLD-layout pre-state
            nbs.add(int(self.manifest(from_snapshot)["num_buckets"]))
            if len(nbs) > 1:
                buckets = None
        return added, (sorted(buckets) if buckets is not None else None), ts_stats

    def change_feed(
        self,
        spark: SparkSession,
        from_snapshot: str,
        to_snapshot: str | None = None,
        include_pre_image: bool = False,
    ) -> DataFrame:
        """TYPED change-data-feed: net change per key over the range with a
        ``_change_type`` column ('insert' | 'update' | 'delete') -- the
        Iceberg/Delta CDF shape a downstream CDC consumer expects, where
        :meth:`read_changes` emits raw post-image rows only.  (Reference
        analog: audit's per-entry status transitions,
        hooks/builtins/metadata/audit.py:23-81.)

        Semantics (net mode, deterministic): only ACTUAL state transitions
        are emitted -- the feed is exactly the row-level diff between the
        two snapshots' LWW states.

        * per key, the winning (max ts, _seq) row among the rows added in
          ``(from_snapshot, to_snapshot]`` is the candidate change;
        * the candidate must BEAT the key's pre-state winner (tombstones
          included) under the same (ts, _seq) order -- a late replay that
          loses cross-batch last-writer-wins changed nothing and emits
          nothing (likewise an "insert" arriving under a newer tombstone);
        * 'insert'  -- key not live in ``from_snapshot``'s state (absent
          or tombstoned);
        * 'update'  -- key live before, winner not a tombstone
          (``include_pre_image=True`` adds a ``_pre_image`` struct of the
          prior payload, NULL unless the key was live);
        * 'delete'  -- key live before, winner a tombstone (post-image
          carries the tombstone row's payload);
        * a key inserted AND deleted entirely inside the range nets to
          no row (the consumer never saw it exist).

        Cost: O(rows added in range) for the change side plus a
        BUCKET-PRUNED read of the pre-state (only buckets the range
        touched; MoR clustered deltas make the bucket set exact) that is
        further key-restricted BEFORE its LWW reduction (broadcast
        semi-join on the changed keys -- the pre-state dedup shuffles
        O(changed keys) rows, not the touched buckets' full state),
        joined on the key -- never a full-table diff."""
        to_snapshot = to_snapshot or self._version()
        if from_snapshot == "snap-0000000000":
            # BOOTSTRAP FAST PATH: nothing was live before the root, so
            # the net feed IS the live state at `to` as inserts (keys
            # whose final winner is a tombstone net out, exactly as the
            # general path filters them).  One O(live state) read instead
            # of folding every change file ever written -- the path every
            # brand-new consumer (outbox first publish, view bootstrap)
            # takes, and the only one that still works after early
            # history has been expired.  include_expired keeps parity
            # with the general path, which never TTL-filters post-images.
            m_to = self.manifest(to_snapshot)
            schema = T.StructType.fromJson(m_to["schema"])
            payload_cols = [
                f.name for f in schema.fields if not _is_internal_name(f.name)
            ]
            state = self.read(
                spark, snapshot_id=to_snapshot, include_expired=True
            )
            out = state.withColumn("_change_type", F.lit("insert"))
            cols = [self._logical_name(c, m_to) for c in payload_cols] + [
                "_change_type"
            ]
            if include_pre_image:
                pre_t = T.StructType(
                    [
                        T.StructField(self._logical_name(f.name, m_to), f.dataType)
                        for f in schema.fields
                        if not _is_internal_name(f.name) and f.name not in self.key
                    ]
                )
                out = out.withColumn("_pre_image", F.lit(None).cast(pre_t))
                cols.append("_pre_image")
            return out.select(*cols)
        added, buckets, _tss = self._added_change_files(from_snapshot, to_snapshot)
        m_to = self.manifest(to_snapshot)
        schema = T.StructType.fromJson(m_to["schema"])
        changes = self._read_files(
            spark, sorted(set(added)), schema,
            imported=self._imported_set(m_to),
        )
        net = self._reduce(changes)
        payload_cols = [f.name for f in schema.fields if not _is_internal_name(f.name)]
        pre = self.read(
            spark,
            snapshot_id=from_snapshot,
            buckets=buckets,
            include_internal=True,
            include_deleted=True,
            # restrict the pre-state to the keys the range actually
            # changed BEFORE its LWW reduction: the dedup then shuffles
            # O(changed keys) rows, not the touched buckets' whole state
            key_in=net.select(*self.key),
            logical=False,  # this whole join runs in physical space
        )
        pre_sel = pre.select(
            *[F.col(k) for k in self.key],
            F.col("ts").alias("_pre_ts"),
            F.col(INTERNAL_SEQ).alias("_pre_seq"),
            (~F.col(INTERNAL_DELETED)).alias("_pre_live"),
            *(
                [
                    F.struct(
                        *[
                            F.col(c).alias(self._logical_name(c, m_to))
                            for c in payload_cols
                            if c not in self.key
                        ]
                    ).alias("_pre_image")
                ]
                if include_pre_image
                else []
            ),
        )
        post = net
        if self.merge_mode == "partial":
            # the range's net rows are SPARSE states (a column the range
            # never set is null); the post-image a CDC consumer expects
            # is the full coalesced row, i.e. the fold of the pre-state
            # with the range -- O(changed keys), same associative fold.
            # A range that only re-asserts older versions folds to
            # exactly the pre-state and is filtered by `beats` below.
            post = fold_partial_states(
                net.unionByName(pre, allowMissingColumns=True), key=self.key
            )
        j = post.join(pre_sel, on=self.key, how="left")
        beats = (
            F.col("_pre_ts").isNull()
            | (F.col("ts") > F.col("_pre_ts"))
            | (
                (F.col("ts") == F.col("_pre_ts"))
                & (F.col(INTERNAL_SEQ) > F.col("_pre_seq"))
            )
        )
        pre_live = F.coalesce(F.col("_pre_live"), F.lit(False))
        feed = (
            j.filter(beats)
            .withColumn(
                "_change_type",
                F.when(F.col(INTERNAL_DELETED) & pre_live, F.lit("delete"))
                .when(F.col(INTERNAL_DELETED), F.lit(None).cast("string"))
                .when(pre_live, F.lit("update"))
                .otherwise(F.lit("insert")),
            )
            .filter(F.col("_change_type").isNotNull())
        )
        if include_pre_image:
            # a tombstoned pre-state is not a prior VISIBLE payload
            feed = feed.withColumn(
                "_pre_image", F.when(pre_live, F.col("_pre_image"))
            )
        feed = feed.drop(
            "_pre_ts", "_pre_seq", "_pre_live", *_internal_names(feed.columns)
        )
        order = payload_cols + ["_change_type"] + (
            ["_pre_image"] if include_pre_image else []
        )
        return self._to_logical(feed.select(*order), m_to)

    def follow_changes(
        self,
        spark: SparkSession,
        from_snapshot: str | None = None,
        poll_seconds: float = 2.0,
        stop_event=None,
        timeout_seconds: float | None = None,
        typed: bool = False,
        consumer: str | None = None,
    ):
        """Generator tailing the table's COMMITS: yields one
        ``{"from", "to", "changes"}`` dict per observed snapshot advance,
        where ``changes`` is the range's :meth:`read_changes` DataFrame
        (or the typed :meth:`change_feed` with ``typed=True``) -- the
        downstream-consumer face of CDC: a subscriber processes each
        yield exactly once in commit order without ever re-reading the
        table.  Maintenance-only advances (compaction/expiry) yield
        nothing new inside the range and are skipped for free by the
        change walk.

        ``from_snapshot=None`` starts at the CURRENT snapshot (new
        changes only).  Stop via ``stop_event`` (threading.Event) or
        ``timeout_seconds``; polling is driver-side metadata only
        (VERSION read per poll -- O(1)).

        ``consumer="name"`` makes the subscription DURABLE (see
        :meth:`register_consumer`): the walk resumes from the stored
        cursor (auto-registered at the current head on first use;
        ``from_snapshot`` overrides the stored position), and the cursor
        advances AFTER the caller finishes each yielded range — i.e. when
        it asks for the next one — so a subscriber that crashes
        mid-processing re-receives that range on restart (at-least-once
        per range, never silently skipped), and expiry retains the chain
        the restart needs."""
        if consumer is not None:
            stored = self.consumer_cursor(consumer)
            if from_snapshot is not None:
                last = self.advance_consumer(consumer, from_snapshot, force=True)
            elif stored is not None:
                last = stored
            else:
                head = self._version()
                last = self.register_consumer(consumer) if head else head
        else:
            last = from_snapshot or self._version()
        deadline = (
            (time.monotonic() + timeout_seconds) if timeout_seconds else None
        )
        while True:
            if stop_event is not None and stop_event.is_set():
                return
            if deadline is not None and time.monotonic() >= deadline:
                return
            cur = self._version()
            if cur != last:
                df = (
                    self.change_feed(spark, last, cur)
                    if typed
                    else self.read_changes(spark, last, cur)
                )
                yield {"from": last, "to": cur, "changes": df}
                if consumer is not None:
                    # the caller has consumed the range (it asked for the
                    # next one): persist the position before moving on
                    self.advance_consumer(consumer, cur)
                last = cur
            else:
                time.sleep(poll_seconds)

    def create_view(self, spark: SparkSession, name: str = "transcripts") -> None:
        """Register the current table state as a temp view for spark.sql
        (the SQL face of the engine: SELECT ... FROM transcripts)."""
        self.read(spark).createOrReplaceTempView(name)

    def lookup(self, spark: SparkSession, key_value) -> DataFrame:
        """Point lookup by the leading key (conv_id): manifest-level bucket
        pruning means only ONE bucket's files (plus any not-yet-compacted
        flat deltas) reach the scan -- O(table/num_buckets) IO -- and on
        sorted tables (``sort_on_compact``) the per-file key-range stats
        prune within the bucket too, so IO approaches O(one file's
        row-group).  The read path a 100 TB table depends on."""
        m = self.manifest()
        # the literal must hash under the key column's REAL type: Murmur3
        # of int(12) (4 bytes) != long(12) (8 bytes), so an uncast literal
        # on a long-keyed table prunes to the WRONG bucket (empty result)
        schema = T.StructType.fromJson(m["schema"])
        key_dt = next(
            (f.dataType for f in schema.fields if f.name == self.key[0]), None
        )
        lit = F.lit(key_value).cast(key_dt) if key_dt is not None else F.lit(key_value)
        # the bucket is a constant expression: Catalyst's constant folding
        # evaluates Spark's own Murmur3 into a literal of the optimized
        # plan, so no job runs to learn it
        b = (
            spark.range(1)
            .select(F.pmod(F.hash(lit), F.lit(m["num_buckets"])))
            ._jdf.queryExecution().optimizedPlan()
            .projectList().apply(0).child().value()
        )
        return self.read(spark, buckets=[int(b)], key_eq=key_value)

    # ------------------------------------------------------------- deleting
    # Predicate/key deletes write TOMBSTONES through the ordinary merge
    # path (one commit, reconcile-safe beside concurrent streams); the
    # physical rows disappear later when major compaction purges
    # tombstones older than the retention horizon.  This is the
    # Delta/Iceberg DELETE-then-VACUUM shape, and the GDPR erasure
    # primitive a transcript table needs: tombstone now (key invisible
    # immediately), purge at the next maintenance window.
    def delete_where(
        self,
        spark: SparkSession,
        condition,
        batch_token: str | None = None,
    ) -> dict[str, Any]:
        """Tombstone every CURRENTLY VISIBLE key whose winner row matches
        ``condition`` (a SQL string or Column over the payload columns).

        Cost: one MoR read (full reduction -- the predicate may touch any
        payload column, so the per-key winner must be computed) plus one
        O(matching keys) merge commit.  For key-valued deletes use
        :meth:`delete_keys`, which restricts the scan before the
        reduction.  Late events older than the deleted winner still lose
        to the tombstone (LWW); events NEWER than the winner's (ts,_seq)
        legitimately resurrect the key -- delete is a change event, not a
        barrier.  (Reference analog: entry invalidation/re-fetch,
        /root/reference/src/fetchez/core.py:557-562 -- lifted to
        change-log semantics.)"""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        victims = self.read(spark, include_internal=True).filter(cond)
        return self._delete_rows(victims, batch_token)

    def delete_keys(
        self,
        spark: SparkSession,
        keys,
        batch_token: str | None = None,
    ) -> dict[str, Any]:
        """Tombstone an explicit key set (a DataFrame of key columns, or a
        python list of scalars/tuples).  The read is key-restricted via a
        broadcast semi-join BEFORE the MoR reduction (``read(key_in=)``),
        so the scan shuffles O(matching rows), not the table."""
        if isinstance(keys, DataFrame):
            keys_df = keys
        else:
            schema = T.StructType.fromJson(self.manifest()["schema"])
            kschema = T.StructType([schema[k] for k in self.key])
            rows = [k if isinstance(k, tuple) else (k,) for k in keys]
            keys_df = spark.createDataFrame(rows, kschema)
        victims = self.read(spark, include_internal=True, key_in=keys_df)
        return self._delete_rows(victims, batch_token)

    def _delete_rows(self, victims: DataFrame, batch_token: str | None) -> dict[str, Any]:
        """Winner rows -> delete events: same key, the winner's own ts
        (event time untouched) and ``_seq + 1`` so the tombstone beats the
        winner under the max-(ts,_seq) reduction deterministically, while
        any genuinely newer event still beats the tombstone."""
        m = self.manifest()
        batch = victims.select(
            F.lit("D").alias("op"),
            *[F.col(self._logical_name(k, m)) for k in self.key],
            F.col("ts"),
            (F.col(INTERNAL_SEQ) + F.lit(1)).alias("seq"),
        )
        # trailing non-digit keeps this one-shot token out of the
        # per-prefix watermark map (it would otherwise grow unbounded
        # with single-use uuid prefixes)
        token = batch_token or f"delete-where-{uuid.uuid4().hex}x"
        return self.merge(batch, batch_token=token)

    def update_where(
        self,
        spark: SparkSession,
        condition,
        set: dict[str, Any],
        batch_token: str | None = None,
    ) -> dict[str, Any]:
        """Patch every CURRENTLY VISIBLE key whose winner row matches
        ``condition``: synthesize upsert events carrying the winner's
        payload with the ``set`` assignments applied ({col: SQL expr
        string or Column}, evaluated over the winner row -- assignments
        may reference any payload column).  The patch commits at the
        winner's own ts with ``_seq + 1``, so it beats the winner under
        the max-(ts,_seq) reduction deterministically while any genuinely
        NEWER event still beats the patch -- an UPDATE is a change event,
        not a barrier (same LWW contract as :meth:`delete_where`).  One
        MoR read + one O(matching keys) merge commit; key columns and
        ``ts`` cannot be assigned (they define identity and ordering).
        (Reference analog: entry re-fetch with rewritten metadata,
        /root/reference/src/fetchez/core.py:557-562, lifted to change-log
        row patches.)"""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        winners = self.read(spark, include_internal=True).filter(cond)
        return self._update_rows(winners, set, batch_token)

    def update_keys(
        self,
        spark: SparkSession,
        keys,
        set: dict[str, Any],
        batch_token: str | None = None,
    ) -> dict[str, Any]:
        """Patch an explicit key set (DataFrame of key columns or python
        list of scalars/tuples) -- the read is key-restricted via a
        broadcast semi-join BEFORE the MoR reduction (``read(key_in=)``),
        so the scan shuffles O(matching rows), not the table."""
        if isinstance(keys, DataFrame):
            keys_df = keys
        else:
            schema = T.StructType.fromJson(self.manifest()["schema"])
            kschema = T.StructType([schema[k] for k in self.key])
            rows = [k if isinstance(k, tuple) else (k,) for k in keys]
            keys_df = spark.createDataFrame(rows, kschema)
        winners = self.read(spark, include_internal=True, key_in=keys_df)
        return self._update_rows(winners, set, batch_token)

    def _update_rows(
        self, winners: DataFrame, set: dict[str, Any], batch_token: str | None
    ) -> dict[str, Any]:
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        set_ = set
        # columns are addressed by their CURRENT (logical) names
        lkey = [self._logical_name(k, m) for k in self.key]
        lcols = {
            self._logical_name(f.name, m): f
            for f in schema.fields
            if not _is_internal_name(f.name)
        }
        bad = [c for c in set_ if c in lkey or c == "ts"]
        if bad:
            raise ValueError(
                f"cannot assign key/ordering columns {bad}: they define row "
                "identity (key) and LWW ordering (ts); delete + re-insert "
                "to move a row"
            )
        unknown = [c for c in set_ if c not in lcols]
        if unknown:
            raise ValueError(
                f"assignment targets not in the table schema: {unknown} "
                f"(columns: {sorted(lcols)})"
            )
        assigns = {
            c: (F.expr(v) if isinstance(v, str) else v) for c, v in set_.items()
        }
        batch = winners.select(
            F.lit("U").alias("op"),
            *[
                (
                    assigns[c].cast(lcols[c].dataType) if c in assigns else F.col(c)
                ).alias(c)
                for c in lcols
            ],
            (F.col(INTERNAL_SEQ) + F.lit(1)).alias("seq"),
        )
        # trailing non-digit keeps this one-shot token out of the
        # per-prefix watermark map (see _delete_rows)
        token = batch_token or f"update-where-{uuid.uuid4().hex}x"
        return self.merge(batch, batch_token=token)

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        on=None,
        when_matched_update: dict[str, Any] | str | None = None,
        when_matched_delete=None,
        when_not_matched_insert: dict[str, Any] | str | None = None,
        when_not_matched_by_source_update: dict[str, Any] | None = None,
        when_not_matched_by_source_delete=None,
        batch_token: str | None = None,
        error_on_multiple_matches: bool = True,
    ) -> dict[str, Any]:
        """General MERGE INTO (the Delta/Iceberg analog), expressed as ONE
        change-event commit: join the CURRENTLY VISIBLE winners (alias
        ``t``) against ``source`` (alias ``s``) and synthesize

        * matched rows where ``when_matched_delete`` holds (a SQL
          condition over ``s.``/``t.`` columns, or ``True``) -> delete
          events;
        * remaining matched rows, when ``when_matched_update`` is given
          ({col: SQL expr over ``s.``/``t.``} or ``"all"`` = every
          same-named non-key source column) -> upsert events carrying the
          winner's payload with the assignments applied;
        * source rows matching nothing, when ``when_not_matched_insert``
          is given ({col: expr over ``s.``} or ``"all"``) -> insert
          events (assignments MUST cover the key and ``ts``);
        * TARGET rows matching no source row (the Delta ``WHEN NOT
          MATCHED BY SOURCE`` clauses -- full-snapshot sync in one
          MERGE): ``when_not_matched_by_source_delete`` (``True`` or a
          SQL condition over ``t.``) -> delete events, then
          ``when_not_matched_by_source_update`` ({col: expr over
          ``t.``}) -> upsert events for the rest.  These clauses must
          examine EVERY visible winner, so the target read is the whole
          table even under key-equality ``on`` -- inherent to the
          semantic (Delta's is the same scan); without them the
          key-restricted read below stays.

        Update/delete events commit at the winner's own (ts, _seq+1) --
        they beat the winner deterministically while any genuinely newer
        change event still beats them (same LWW contract as
        :meth:`update_where`: a MERGE is a change event, not a barrier);
        inserts commit at their assigned ``ts`` (seq 0, assignable).

        A key whose current winner is a TOMBSTONE is "not matched" (it
        does not exist, the Delta semantics), and the insert must
        actually land: when the table holds a tombstone NEWER than the
        assigned ``ts``, the insert event commits at the tombstone's own
        (ts, _seq+1) instead -- otherwise the "insert" would silently
        stay dead under the LWW fold.  The row's PAYLOAD ts is whatever
        the assignment produced only when it already beats the tombstone;
        resurrection-over-a-newer-tombstone adopts the tombstone's ts
        (MERGE visibility wins over strict event time, documented
        trade-off).

        ``on=None`` (default) joins on key equality, and the target read
        is key-restricted via a broadcast semi-join on the source's keys
        BEFORE the MoR reduction -- O(|source|) rows shuffled, never the
        table.  An explicit ``on`` (arbitrary SQL condition) must read
        every visible winner: fine for dimension-sized sources, document
        the scan on a 100 TB table.  Multiple source rows matching ONE
        target row make updates nondeterministic, so they raise by
        default (the Delta semantics); pass
        ``error_on_multiple_matches=False`` only when every duplicate
        match is provably identical.

        (Reference analog: conditional re-fetch/update of already-held
        entries vs fresh fetches of unseen ones,
        /root/reference/src/fetchez/core.py:557-562 + 1128-1137 -- the
        fetch-or-refresh decision lifted to declarative MERGE clauses.)"""
        if (
            when_matched_update is None
            and when_matched_delete is None
            and when_not_matched_insert is None
            and when_not_matched_by_source_update is None
            and when_not_matched_by_source_delete is None
        ):
            raise ValueError("merge_into needs at least one WHEN clause")
        by_source = (
            when_not_matched_by_source_update is not None
            or when_not_matched_by_source_delete is not None
        )
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        lkey = [self._logical_name(k, m) for k in self.key]
        lcols = {
            self._logical_name(f.name, m): f
            for f in schema.fields
            if not _is_internal_name(f.name)
        }
        if on is None:
            missing_keys = [k for k in lkey if k not in source.columns]
            if missing_keys:
                raise ValueError(
                    f"key-equality merge_into needs the source to carry the "
                    f"key column(s) {missing_keys}"
                )
            keys_df = source.select(*lkey).dropDuplicates()
            winners = self.read(
                spark,
                include_internal=True,
                include_deleted=True,
                # by-source clauses must see target rows the source does
                # NOT carry -- the key restriction would hide them
                key_in=None if by_source else keys_df,
            )
        else:
            winners = self.read(spark, include_internal=True, include_deleted=True)
        is_dead = F.coalesce(F.col(INTERNAL_DELETED), F.lit(False))
        live = winners.filter(~is_dead)
        dead = winners.filter(is_dead)
        t = live.alias("t")
        s = source.alias("s")
        if on is None:
            join_cond = F.lit(True)
            for k in lkey:
                join_cond = join_cond & (F.col(f"t.{k}") == F.col(f"s.{k}"))
        else:
            join_cond = F.expr(on) if isinstance(on, str) else on
        matched = t.join(s, join_cond, "inner")
        if error_on_multiple_matches and (
            when_matched_update is not None or when_matched_delete is not None
        ):
            dups = (
                matched.groupBy(*[F.col(f"t.{k}") for k in lkey])
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
                .limit(1)
                .count()
            )
            if dups:
                raise ValueError(
                    "multiple source rows match a single target row: the "
                    "update/delete outcome would be nondeterministic -- "
                    "de-duplicate the source (or pass "
                    "error_on_multiple_matches=False if duplicates are "
                    "provably identical)"
                )
        events: list[DataFrame] = []
        del_cond = None
        if when_matched_delete is not None:
            if when_matched_delete is True:
                del_cond = F.lit(True)
            elif isinstance(when_matched_delete, str):
                del_cond = F.expr(when_matched_delete)
            else:
                del_cond = when_matched_delete
            events.append(
                matched.filter(del_cond).select(
                    F.lit("D").alias("op"),
                    *[F.col(f"t.{c}").alias(c) for c in lcols],
                    (F.col(f"t.{INTERNAL_SEQ}") + F.lit(1)).alias("seq"),
                )
            )
        if when_matched_update is not None:
            upd = when_matched_update
            if upd == "all":
                upd = {
                    c: f"s.{c}"
                    for c in lcols
                    if c not in lkey and c != "ts" and c in source.columns
                }
            bad = [c for c in upd if c in lkey or c == "ts"]
            if bad:
                raise ValueError(
                    f"cannot assign key/ordering columns {bad}: they define "
                    "row identity (key) and LWW ordering (ts); use delete + "
                    "insert to move a row"
                )
            unknown = [c for c in upd if c not in lcols]
            if unknown:
                raise ValueError(
                    f"update targets not in the table schema: {unknown} "
                    f"(columns: {sorted(lcols)})"
                )
            assigns = {
                c: (F.expr(v) if isinstance(v, str) else v) for c, v in upd.items()
            }
            upd_src = matched
            if del_cond is not None:
                upd_src = matched.filter(
                    ~F.coalesce(del_cond, F.lit(False))
                )
            events.append(
                upd_src.select(
                    F.lit("U").alias("op"),
                    *[
                        (
                            assigns[c].cast(lcols[c].dataType)
                            if c in assigns
                            else F.col(f"t.{c}")
                        ).alias(c)
                        for c in lcols
                    ],
                    (F.col(f"t.{INTERNAL_SEQ}") + F.lit(1)).alias("seq"),
                )
            )
        if when_not_matched_insert is not None:
            ins = when_not_matched_insert
            if ins == "all":
                ins = {c: f"s.{c}" for c in lcols if c in source.columns}
            unknown = [c for c in ins if c not in lcols and c != "seq"]
            if unknown:
                raise ValueError(
                    f"insert targets not in the table schema: {unknown} "
                    f"(columns: {sorted(lcols)})"
                )
            missing = [c for c in [*lkey, "ts"] if c not in ins]
            if missing:
                raise ValueError(
                    f"when_not_matched_insert must assign the key and ts; "
                    f"missing: {missing}"
                )
            iassigns = {
                c: (F.expr(v) if isinstance(v, str) else v) for c, v in ins.items()
            }
            unmatched = s.join(t, join_cond, "left_anti")
            ins_rows = unmatched.select(
                F.lit("U").alias("op"),
                *[
                    (
                        iassigns[c].cast(lcols[c].dataType)
                        if c in iassigns
                        else F.lit(None).cast(lcols[c].dataType)
                    ).alias(c)
                    for c in lcols
                ],
                (
                    iassigns["seq"].cast("long")
                    if "seq" in iassigns
                    else F.lit(0).cast("long")
                ).alias("seq"),
            )
            # a tombstoned key is "not matched", but the insert must BEAT
            # the tombstone under the (ts, seq) fold or it silently stays
            # dead -- override to (tombstone ts, tombstone seq + 1) when
            # the assigned ts doesn't already win
            dk = dead.select(
                *[F.col(k).alias(f"__dk_{i}") for i, k in enumerate(lkey)],
                F.col("ts").alias("__dts"),
                F.col(INTERNAL_SEQ).alias("__dseq"),
            )
            dj = F.lit(True)
            for i, k in enumerate(lkey):
                dj = dj & (ins_rows[k] == dk[f"__dk_{i}"])
            beats = F.col("__dts").isNull() | (F.col("ts") > F.col("__dts"))
            events.append(
                ins_rows.join(dk, dj, "left")
                .withColumn(
                    "__seq2",
                    F.when(beats, F.col("seq")).otherwise(F.col("__dseq") + 1),
                )
                .withColumn(
                    "ts", F.when(beats, F.col("ts")).otherwise(F.col("__dts"))
                )
                .drop("seq")
                .withColumnRenamed("__seq2", "seq")
                .drop(*[f"__dk_{i}" for i in range(len(lkey))], "__dts", "__dseq")
            )
        if by_source:
            tgt_only = t.join(s, join_cond, "left_anti")
            bs_del = None
            if when_not_matched_by_source_delete is not None:
                if when_not_matched_by_source_delete is True:
                    bs_del = F.lit(True)
                elif isinstance(when_not_matched_by_source_delete, str):
                    bs_del = F.expr(when_not_matched_by_source_delete)
                else:
                    bs_del = when_not_matched_by_source_delete
                events.append(
                    tgt_only.filter(bs_del).select(
                        F.lit("D").alias("op"),
                        *[F.col(f"t.{c}").alias(c) for c in lcols],
                        (F.col(f"t.{INTERNAL_SEQ}") + F.lit(1)).alias("seq"),
                    )
                )
            if when_not_matched_by_source_update is not None:
                bupd = when_not_matched_by_source_update
                bad = [c for c in bupd if c in lkey or c == "ts"]
                if bad:
                    raise ValueError(
                        f"cannot assign key/ordering columns {bad}: they "
                        "define row identity (key) and LWW ordering (ts)"
                    )
                unknown = [c for c in bupd if c not in lcols]
                if unknown:
                    raise ValueError(
                        f"update targets not in the table schema: {unknown} "
                        f"(columns: {sorted(lcols)})"
                    )
                bassigns = {
                    c: (F.expr(v) if isinstance(v, str) else v)
                    for c, v in bupd.items()
                }
                bsrc = tgt_only
                if bs_del is not None:
                    bsrc = tgt_only.filter(~F.coalesce(bs_del, F.lit(False)))
                events.append(
                    bsrc.select(
                        F.lit("U").alias("op"),
                        *[
                            (
                                bassigns[c].cast(lcols[c].dataType)
                                if c in bassigns
                                else F.col(f"t.{c}")
                            ).alias(c)
                            for c in lcols
                        ],
                        (F.col(f"t.{INTERNAL_SEQ}") + F.lit(1)).alias("seq"),
                    )
                )
        batch = events[0]
        for e in events[1:]:
            batch = batch.unionByName(e)
        token = batch_token or f"merge-into-{uuid.uuid4().hex}x"
        return self.merge(batch, batch_token=token)

    def purge_tombstones(self, spark: SparkSession, before=None) -> dict[str, Any]:
        """Targeted tombstone GC: rewrite ONLY the buckets whose files can
        hold a tombstone older than the horizon (``before`` or the sink's
        retention against the high watermark), selected from PARQUET
        FOOTER statistics -- max(_deleted) and min(ts) per file, read
        driver-side with pyarrow, no Spark job and no data scan.  A
        100 TB table with a handful of purged conversations rewrites a
        handful of buckets, not the table.  Missing footer stats keep the
        file as a candidate (selection must over-approximate, never
        miss)."""
        cur = self.manifest()
        return self._targeted_purge(
            spark, cur, self._purge_horizon(cur, before),
            "purge_candidate_buckets", "purge_tombstones_before",
        )

    def purge_expired(self, spark: SparkSession, before=None) -> dict[str, Any]:
        """Targeted physical row-TTL purge: rewrite ONLY the buckets whose
        files can hold a row older than the horizon (``before`` or the
        sink's ``row_ttl_seconds`` against the high watermark), selected
        from PARQUET FOOTER ts statistics -- driver-side, no Spark job and
        no data scan (the same selection as :meth:`purge_tombstones`, for
        live rows).  A 100 TB table whose old history is concentrated in
        a few cold buckets rewrites those, not the table."""
        cur = self.manifest()
        return self._targeted_purge(
            spark, cur, self._ttl_horizon(cur, before),
            "expire_candidate_buckets", "expire_rows_before",
        )

    def _targeted_purge(
        self, spark: SparkSession, cur: dict, horizon, counter: str, fold_arg: str
    ) -> dict[str, Any]:
        """The candidate-bucket selection both purges share: fold (with
        ``compact(**{fold_arg: horizon})``) only the buckets holding a
        file whose footer statistics admit a row with ts < ``horizon`` --
        for ``purge_tombstones_before``, a tombstone row.  Any missing or
        unreadable statistic selects the file; flat deltas that qualify
        widen the fold to every bucket."""
        empty = {
            "snapshot_id": cur["snapshot_id"],
            "compacted_buckets": 0,
            counter: 0,
        }
        if horizon is None:
            return empty
        try:
            h = self._ts_bound(horizon)
        except ValueError:
            h = None
        tombstones = fold_arg == "purge_tombstones_before"

        def _may_hold(f: str) -> bool:
            fs = self._footer_stats(f, ["ts"])
            if fs is None or h is None:
                return True
            if tombstones and not fs[1]:
                return False
            try:
                return fs[2]["ts"] is None or fs[2]["ts"][0] < h
            except TypeError:
                return True

        base_map = self._resolve_map(cur["files"])
        delta_map = self._resolve_map(cur.get("deltas", {}))
        todo = sorted(
            {
                b
                for m in (base_map, delta_map)
                for b, fs in m.items()
                if b != _FLAT and any(map(_may_hold, fs))
            },
            key=int,
        ) or None
        if todo is None and any(map(_may_hold, delta_map.get(_FLAT, []))):
            todo = []  # full fold (flat deltas widen it anyway)
        if todo is None:
            return empty
        res = self.compact(spark, buckets=todo or None, **{fold_arg: horizon})
        res[counter] = len(todo) or len(base_map)
        return res

    @staticmethod
    def _ts_bound(v):
        """User-supplied window bound -> naive local datetime (None passes
        through).  Footer statistics are normalized the same way, so the
        two compare in one frame."""
        from datetime import datetime

        if v is None:
            return None
        t = datetime.fromisoformat(v) if isinstance(v, str) else v
        if t.tzinfo is not None:
            t = t.astimezone(tz=None).replace(tzinfo=None)
        return t

    # -------------------------------------------------------------- merging
    # Concurrency: commits use atomic-mkdir snapshot-id claims plus an
    # inter-process commit lock held for the O(touched) manifest swap;
    # MoR appends/compactions reconcile against the latest manifest, and
    # CoW rewrites validate bucket-by-bucket (disjoint buckets reconcile,
    # overlaps raise ConcurrentWriteConflict; merge(conflict_retries=N)
    # rebases automatically) -- N writers into one table is supported in
    # BOTH modes (see tests/test_round3_concurrency.py and the round-4
    # soak).
    def merge(
        self,
        batch: DataFrame,
        batch_token: str,
        offsets: dict[str, Any] | None = None,
        physical_names: bool = False,
        conflict_retries: int | None = None,
    ) -> dict[str, Any]:
        """Apply one batch; see :meth:`_merge_once`.  ``conflict_retries``
        re-runs the whole attempt (fresh base manifest, fresh claim, new
        rewrite) after a :class:`ConcurrentWriteConflict` -- the automatic
        rebase loop a multi-writer CoW deployment wants.  Each retry is
        exactly-once by construction: a conflicted attempt never committed
        its token, and a token committed by ANOTHER path skips as usual.
        Defaults to the sink-level ``conflict_retries`` so internal
        merge-shaped commits (delete_where, update_where) inherit it."""
        budget = (
            self.conflict_retries if conflict_retries is None else conflict_retries
        )
        attempt = 0
        while True:
            try:
                return self._merge_once(batch, batch_token, offsets, physical_names)
            except ConcurrentWriteConflict:
                # the conflict path reclaimed its own claim (condemned
                # under the lock, emptied by _merge_once's handler)
                attempt += 1
                if attempt > max(0, int(budget)):
                    raise
                _LOG.info(
                    "merge %r: conflict, rebase retry %d/%d",
                    batch_token,
                    attempt,
                    budget,
                )
            except BaseException:
                # ANY other failure between claim and commit (a Spark job
                # dying mid-write, a stats pass failing, _commit itself)
                # must reclaim the attempt's claim: it carries this
                # driver's live-pid sentinel, so vacuum cannot age it out
                # while the driver lives.  The inflight sid is thread-local
                # (N streams may share one sink instance) and cleared the
                # moment the commit lands, so a committed snapshot is never
                # aborted.
                sid = getattr(getattr(self, "_inflight", None), "sid", None)
                if sid:
                    self._abort_claim(sid)
                raise

    def _merge_once(
        self,
        batch: DataFrame,
        batch_token: str,
        offsets: dict[str, Any] | None = None,
        physical_names: bool = False,
    ) -> dict[str, Any]:
        t0 = time.monotonic()
        token = str(batch_token)
        cur = self.manifest()
        if token in cur["committed_batches"]:
            return {
                "snapshot_id": cur["committed_batches"][token],
                "skipped": True,
                "batch_token": token,
            }
        # deep-replay guard: the committed-token map is a bounded window,
        # but the per-prefix token-sequence watermark is O(1) and never
        # expires -- a token at or below its prefix's watermark was
        # committed and later evicted from the window, so a from-scratch
        # replay skips it instead of re-merging duplicate delta bytes and
        # double-counting lineage rows_in.  Contract: tokens sharing a
        # prefix commit in increasing numeric order (true for stream batch
        # ids and replay indices; merge() enforces nothing for custom
        # non-monotone tokens without trailing digits).
        tok_prefix, tok_seq = _token_parts(token)
        if not self.monotonic_tokens:
            tok_seq = None  # window-only exactly-once (custom token order)
        if tok_seq is not None and tok_seq <= int(
            cur.get("token_seq", {}).get(tok_prefix, -1)
        ):
            # visible, not just a metrics-dict flag: if this token is a
            # custom out-of-order token (date-stamped backfill) or follows
            # a checkpoint reset with different batch boundaries, the batch
            # is being DROPPED as a presumed replay -- the operator must be
            # able to see that without instrumenting on_batch
            _LOG.warning(
                "merge of token %r skipped by the token-sequence watermark "
                "(prefix %r watermark %s): treated as a replay of an "
                "already-committed, window-evicted batch.  If this token is "
                "intentionally out of order (custom backfill tokens, or a "
                "checkpoint reset with new batch boundaries), pass "
                "monotonic_tokens=False or a fresh token_prefix to merge it.",
                token,
                tok_prefix,
                cur.get("token_seq", {}).get(tok_prefix),
            )
            return {
                "snapshot_id": cur["snapshot_id"],
                "skipped": True,
                "batch_token": token,
                "replayed_outside_window": True,
            }
        # column-rename indirection: batches speak LOGICAL names; files
        # keep physical ones.  A batch column matching a renamed-away
        # PHYSICAL name is reserved -- writing it raw would silently land
        # new data under the renamed column's new name.
        # ``physical_names=True`` is the physical-layer writer face (mirror
        # replication ships raw physical rows): skip the guard and mapping.
        # The guard runs here (cheap, driver-side, before any job); the
        # actual logical->physical rename happens AFTER the expectations /
        # observation block, which evaluates user conditions in LOGICAL
        # names -- see step 1 below.
        lmap = {} if physical_names else (cur.get("logical_names") or {})
        if lmap:
            reserved = [c for c in batch.columns if lmap.get(c, c) != c]
            if reserved:
                raise ValueError(
                    f"batch column(s) {reserved} are reserved physical names "
                    f"of renamed columns ({ {c: lmap[c] for c in reserved} }); "
                    "use the current (logical) name, or pick a fresh name "
                    "for a genuinely new column"
                )
        retired = cur.get("retired_columns") or []
        if retired:
            dead = [c for c in batch.columns if c in retired]
            if dead:
                raise ValueError(
                    f"batch column(s) {dead} were DROPPED from this table; "
                    "reusing the name would resurrect stale values from "
                    "pre-drop files under parquet name-based projection -- "
                    "pick a fresh name"
                )
        spark = batch.sparkSession
        nb = cur["num_buckets"]
        cur_schema = T.StructType.fromJson(cur["schema"])

        # 0. metrics/lineage ride the ONE merge job as observed metrics --
        # zero extra passes over the data (north_rule: per-partition
        # lineage + rows/sec without a second scan).
        # NOTE: only a handful of cheap exprs here -- CollectMetrics
        # aggregates are evaluated interpreted per-row; a wide histogram
        # (e.g. per-src-partition count_if fan-out) measurably anti-scales.
        # Per-partition lineage counts instead come from a column-pruned
        # scan of the JUST-WRITTEN delta files, below (never the batch).
        # 0b. watermark: with a configured late tolerance, events older
        # than (committed high-watermark - tolerance) are rejected before
        # the merge.  This bounds how far back any batch can reach -- the
        # streaming-watermark guarantee expressed at the sink.  Rejections
        # are counted in the batch metrics (rows_too_late).
        hwm = cur.get("high_watermark")
        # FAST PATH (the default MoR config): with no late-tolerance filter
        # and no write-side dedup, every batch row lands verbatim in the
        # delta files, so EVERY metric (rows, deletes, max ts, per-source-
        # partition counts) is derivable from one column-pruned stats job
        # over the just-written files -- and the two Observations can be
        # skipped entirely.  CollectMetrics expressions are evaluated
        # INTERPRETED per row (no codegen); measured at 8M-row batches /
        # 8 cores they cost ~13% of the whole append path.
        # refresh table-level expectations from the CURRENT manifest: a
        # gate another writer recorded after this sink opened is enforced
        # from this merge on (recorded wins by name; this session's own
        # constructor-declared extras still apply on top)
        _rec_exps = [tuple(e) for e in cur.get("expectations") or []]
        _names = {e[0] for e in _rec_exps}
        self.expectations = _rec_exps + [
            e for e in self._session_expectations if e[0] not in _names
        ]
        use_observe = (
            self.mode == "cow"
            or self.dedup_on_write
            or self.late_tolerance_seconds is not None
            or bool(self.expectations)
        )
        obs_in = obs_out = None
        quarantine_src = None
        if use_observe:
            if self.late_tolerance_seconds is not None and hwm is not None:
                cutoff = F.lit(hwm).cast("timestamp") - F.expr(
                    f"INTERVAL {int(self.late_tolerance_seconds)} SECONDS"
                )
                batch = batch.withColumn("_too_late", F.col("ts") < cutoff)
            else:
                batch = batch.withColumn("_too_late", F.lit(False))
            exp_aggs = []
            if self.expectations:
                # one boolean per action class + the violated-name array for
                # quarantine records; a row violates when its condition is
                # false OR null (nulls don't get the benefit of the doubt)
                def _viol(cond):
                    return ~F.coalesce(F.expr(cond), F.lit(False))

                def _any(action):
                    conds = [
                        _viol(c) for _, c, a in self.expectations if a == action
                    ]
                    out = F.lit(False)
                    for c in conds:
                        out = out | c
                    return out

                batch = (
                    batch.withColumn("_exp_fail", _any("fail"))
                    .withColumn("_exp_quar", _any("quarantine"))
                    .withColumn("_exp_drop", _any("drop"))
                    .withColumn(
                        "_exp_viol",
                        F.array_compact(
                            F.array(
                                *[
                                    F.when(_viol(c), F.lit(n))
                                    for n, c, _ in self.expectations
                                ]
                            )
                        ),
                    )
                )
                # pre-Observation handle for the (rare) quarantine job, so
                # re-running it never double-fires the observed metrics
                quarantine_src = batch
                exp_aggs = [
                    F.sum(F.col("_exp_fail").cast("long")).alias("rows_failed"),
                    F.sum(
                        (F.col("_exp_quar") & ~F.col("_exp_fail")).cast("long")
                    ).alias("rows_quarantined"),
                    F.sum(
                        (
                            F.col("_exp_drop")
                            & ~F.col("_exp_fail")
                            & ~F.col("_exp_quar")
                        ).cast("long")
                    ).alias("rows_dropped"),
                ]
            obs_in = Observation(f"in-{uuid.uuid4().hex[:8]}")
            # the watermark must advance only from rows that COMMIT: an
            # expectation-excluded row with a bogus future ts would
            # otherwise push the high watermark past real data, and the
            # horizons keyed off it (late rejection, row TTL, tombstone
            # purge) would start discarding legitimate rows -- junk
            # timestamps are precisely what quarantine gates catch.
            # Too-late rows need no exclusion: they are below the
            # committed watermark by definition and max() ignores them.
            ts_for_hwm = (
                F.when(
                    ~F.col("_exp_fail")
                    & ~F.col("_exp_quar")
                    & ~F.col("_exp_drop"),
                    F.col("ts"),
                )
                if self.expectations
                else F.col("ts")
            )
            batch = batch.observe(
                obs_in,
                F.count(F.lit(1)).alias("rows_in"),
                F.sum(F.col("_too_late").cast("long")).alias("rows_too_late"),
                F.max(ts_for_hwm).alias("max_ts"),
                *exp_aggs,
            )
            batch = batch.filter(~F.col("_too_late")).drop("_too_late")
            if self.expectations:
                batch = batch.filter(
                    ~F.col("_exp_fail") & ~F.col("_exp_quar") & ~F.col("_exp_drop")
                ).drop("_exp_fail", "_exp_quar", "_exp_drop", "_exp_viol")

        # 1. reshape (+ within-batch dedup when configured: always for CoW,
        # optional shuffle for MoR -- see __init__).  First: logical ->
        # physical rename (user-facing conditions above ran in logical
        # names; everything from here down -- bucket exprs, dedup keys,
        # file writes -- runs in physical space).
        if lmap:
            ren = {
                l: p for p, l in lmap.items() if l != p and l in batch.columns
            }
            if ren:
                batch = batch.withColumnsRenamed(ren)
        # key-type normalization BEFORE anything hashes a key value:
        # bucket clustering and file key-range stats both record
        # the key under its table type, and Murmur3 of int(5) (4 bytes)
        # != long(5) (8 bytes) -- a batch key under another width would
        # cluster rows into buckets lookups never probe (silent empty
        # lookups).  A NARROWER batch key casts up to the recorded type;
        # a WIDER one is refused (widening the table's key type would
        # strand every already-clustered file under the narrow hash).
        _cur_types = {f.name: f.dataType for f in cur_schema.fields}
        for _k in self.key:
            _bt = next(
                (f.dataType for f in batch.schema.fields if f.name == _k), None
            )
            _ct = _cur_types.get(_k)
            if _bt is None or _ct is None or _bt == _ct:
                continue
            from fetchez_spark.schema import _WIDENINGS

            if _WIDENINGS.get((_bt.simpleString(), _ct.simpleString())) == _ct:
                batch = batch.withColumn(_k, F.col(_k).cast(_ct))
            else:
                raise ValueError(
                    f"key column {_k!r} cannot change type "
                    f"({_ct.simpleString()} -> {_bt.simpleString()}): bucket "
                    "clustering and file key-range stats hash/record the key "
                    "under its recorded type, and files already clustered "
                    "under the old hash would silently miss lookups; load "
                    "into a fresh table (or rebucket a copy) to re-key"
                )
        if self.merge_mode == "partial":
            # events -> single-event partial states (per-column version
            # pairs) FIRST; the within-batch consolidation is then the
            # same associative fold the read/compaction paths run
            bad = [c for c in batch.columns if _is_internal_name(c)]
            if bad:
                raise ValueError(
                    f"batch column(s) {bad} collide with engine-internal "
                    "names (the partial-update mode reserves _dts/_dseq/"
                    "_pv_ts__*/_pv_seq__*)"
                )
            rows = events_to_partial_state(batch_to_target_rows(batch), self.key)
            if self.dedup_on_write or self.mode == "cow":
                rows = fold_partial_states(rows, key=self.key)
        else:
            if self.dedup_on_write or self.mode == "cow":
                batch = dedup_latest(batch, key=self.key, order=["ts", "seq"])
            rows = batch_to_target_rows(batch)
        if use_observe:
            obs_out = Observation(f"out-{uuid.uuid4().hex[:8]}")
            rows = rows.observe(
                obs_out,
                F.count(F.lit(1)).alias("rows_deduped"),
                F.sum(F.col(INTERNAL_DELETED).cast("long")).alias("rows_deleted"),
            )

        # 2. additive schema evolution (metadata-only).
        batch_payload_schema = T.StructType(
            [f for f in rows.schema.fields if f.name != _BUCKET]
        )
        new_schema = merge_schemas(cur_schema, batch_payload_schema)

        metrics: dict[str, Any] = {"batch_token": token, "skipped": False, "mode": self.mode}

        sid = self._claim_sid(cur)
        # register the in-flight claim for merge()'s failure handler
        # (thread-local: concurrent streams may share this sink instance;
        # __dict__.setdefault makes the lazy creation race-safe)
        inflight = getattr(self, "_inflight", None)
        if inflight is None:
            inflight = self.__dict__.setdefault("_inflight", threading.local())
        inflight.sid = sid

        written: list[str] = []
        change_files: list[str] = []  # CoW-only changes sidecar
        # per-bucket bytes this commit appended as deltas -- feeds the
        # size-aware compaction policy; O(batch files) stat calls on the
        # just-written files (at object-store scale these sizes come back
        # from the writer, same O(batch) shape)
        written_bytes: dict[str, int] = {}
        touched: list[int] = []
        if self.mode == "mor":
            # 3a. append the batch as DELTA files -- O(batch) always.
            # Default (cluster_deltas): one repartition on the bucket key,
            # then per-bucket files, so bucket-pruned reads stay bucket-
            # local while deltas exist.  Flat mode skips the shuffle
            # entirely (scan -> project -> write) at the price of read
            # amplification until compaction.
            if self.cluster_deltas:
                rows_b = rows.withColumn(_BUCKET, self._bucket_expr(nb))
                written_map = self._write_bucketed(rows_b, sid, nb, new_schema)
                for b, fs in written_map.items():
                    written_bytes[b] = sum(os.path.getsize(f) for f in fs)
                written = [f for fs in written_map.values() for f in fs]
            else:
                written = self._write_flat(rows, sid, new_schema)
                written_bytes[_FLAT] = sum(os.path.getsize(f) for f in written)
            metrics["files_written"] = len(written)
        else:
            # 3b. copy-on-write: rewrite the buckets the batch touches.
            # Touched set comes from a cheap distinct over <= num_buckets
            # values on the raw batch (no dedup recompute).
            touched = [
                r[0]
                for r in batch.select(
                    self._bucket_expr(nb).alias(_BUCKET)
                ).distinct().collect()
            ]
            rows_src = rows
            if self.track_changes:
                # the change SET of this commit is the batch (O(batch)),
                # not the rewritten buckets; persist it FIRST and feed the
                # rewrite from the written files -- the batch plan (and
                # its Observation) runs exactly once, and read_changes
                # stays precise for CoW tables
                # sibling dir, NOT nested under data/<sid>: the bucket
                # rewrite below writes data/<sid> with mode("overwrite"),
                # which would clobber a nested sidecar
                change_files = self._write_flat(
                    rows, f"{sid}-changes", new_schema, transient=False
                )
                rows_src = self._read_files(
                    spark, change_files, T.StructType(list(new_schema.fields))
                )
            rows_b = rows_src.withColumn(_BUCKET, self._bucket_expr(nb))
            # the rewrite must fold in ALL live rows of the touched
            # buckets: base files, the buckets' clustered delta files
            # (present if the table previously ran MoR), and any flat
            # deltas (bucket-filtered below)
            existing_files = (
                [f for b in touched for f in self._resolve_list(cur["files"].get(str(b), []))]
                + [
                    f
                    for b in touched
                    for f in self._resolve_list(cur.get("deltas", {}).get(str(b), []))
                ]
                + self._resolve_list(cur.get("deltas", {}).get(_FLAT, []))
            )
            read_schema = T.StructType(list(new_schema.fields))  # null-backfill
            existing = None
            if existing_files:
                existing = self._read_files(
                    spark, existing_files, read_schema,
                    imported=self._imported_set(cur),
                ).withColumn(
                    _BUCKET, self._bucket_expr(nb)
                )
                if cur.get("deltas", {}).get(_FLAT):
                    # flat deltas may hold rows of untouched buckets; those
                    # rows are NOT part of this rewrite
                    existing = existing.filter(F.col(_BUCKET).isin(touched))
            # union + ONE-shuffle bucket-local reduction + write (same
            # semantics as merge_into -> _write_bucketed, half the shuffles)
            unioned = (
                rows_b
                if existing is None
                else existing.unionByName(rows_b, allowMissingColumns=True)
            )
            written_map = self._dedup_write_bucketed(
                unioned, sid, len(touched), new_schema
            )
            metrics["touched_buckets"] = len(touched)
            metrics["files_written"] = len(change_files) + sum(
                len(fs) for fs in written_map.values()
            )

        # harvest metrics BEFORE the manifest commit so the high-watermark
        # advances atomically with the data it describes.  Observe mode
        # reads the CollectMetrics rows; the fast path derives everything
        # from ONE column-pruned stats job over the JUST-WRITTEN delta
        # files (three tiny columns, page-cached) -- either way the batch
        # itself is never scanned twice.
        max_ts = None
        delta_buckets: list[int] = []
        if use_observe:
            got_in, got_out = obs_in.get, obs_out.get
            max_ts = got_in.get("max_ts")
            if self.collect_metrics:
                metrics["rows_in"] = got_in.get("rows_in", 0)
                metrics["rows_too_late"] = got_in.get("rows_too_late") or 0
                metrics["rows_deduped"] = got_out.get("rows_deduped", 0)
                metrics["rows_deleted"] = got_out.get("rows_deleted") or 0
            if self.expectations:
                n_fail = int(got_in.get("rows_failed") or 0)
                n_quar = int(got_in.get("rows_quarantined") or 0)
                metrics["rows_failed_expectations"] = n_fail
                metrics["rows_quarantined"] = n_quar
                metrics["rows_dropped_expectations"] = int(
                    got_in.get("rows_dropped") or 0
                )
                if n_fail:
                    # all-or-nothing: the manifest never sees this commit.
                    # Remove the whole claim (dir + sidecar), not just the
                    # payload: the claim carries this driver's live-pid
                    # sentinel, so a leftover would be unreclaimable by
                    # vacuum for the driver's entire lifetime.
                    self._abort_claim(sid)
                    raise ExpectationFailed(
                        f"batch {token!r}: {n_fail} row(s) violate a "
                        f"fail-action expectation "
                        f"({[n for n, _, a in self.expectations if a == 'fail']}); "
                        "commit aborted, table state unchanged"
                    )
                if n_quar:
                    # ONE extra job over violating rows only (and only on
                    # batches that actually violate): persist them with the
                    # violated-expectation names for triage
                    qdir = os.path.join(self.table_dir, "quarantine", sid)
                    _data_writer(
                        quarantine_src.filter(
                            F.col("_exp_quar") & ~F.col("_too_late")
                        )
                        .withColumnRenamed("_exp_viol", "_violations")
                        .drop("_exp_fail", "_exp_quar", "_exp_drop", "_too_late")
                        .withColumn("_batch_token", F.lit(token))
                    ).parquet(qdir)
                    metrics["quarantine_dir"] = qdir
        # the stats job runs whenever lineage wants it (collect_metrics) OR
        # the fast path skipped the Observations (not use_observe): the
        # high-watermark must advance even with metrics collection off,
        # else a later reader with late_tolerance_seconds set sees hwm=None
        # and silently applies no late-event rejection.
        # event-time footer stats for the just-written files: harvested
        # HERE (not at commit time) so the fast path below can take the
        # batch watermark from the footers instead of re-aggregating ts
        # in the stats job; they ride into the manifest as ts_stats_new
        fstats = self._footer_burst(change_files or written, ["ts"])
        ts_stats_new = {
            f: [*e["ts"], fstats[f][1]]
            for f, e in self._json_ranges(fstats, ["ts"]).items()
        }
        if self.mode == "mor" and written and (self.collect_metrics or not use_observe):
            # per-src-partition lineage counts (+ in fast mode: the batch
            # totals, deletes, and watermark).  MoR-only: CoW rewrites mix
            # in pre-existing rows, so per-partition counts there would
            # double-count history.
            # Watermark from parquet footers when every written file has
            # ts statistics (engine-written TIMESTAMP_MICROS always does;
            # both the footer path and a Spark collect render the same
            # int64 micros through the local timezone): the stats job
            # then prunes down to the two narrow lineage columns.
            footer_maxes = (
                [ts_stats_new[f][1] for f in written]
                if not use_observe and all(f in ts_stats_new for f in written)
                else None
            )
            stats_fields = [
                T.StructField(INTERNAL_SRC, T.IntegerType(), True),
                T.StructField(INTERNAL_DELETED, T.BooleanType(), True),
            ]
            stats_aggs = [
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(INTERNAL_DELETED).cast("long")).alias("d"),
            ]
            if footer_maxes is None:
                stats_fields.append(T.StructField("ts", T.TimestampType(), True))
                stats_aggs.append(F.max("ts").alias("m"))
            # which buckets this batch touches, riding the SAME stats job
            # (one extra key column + a per-group collect_set bounded by
            # num_buckets): recorded as stats.delta_buckets so flat-delta
            # consumers (export refresh, change_feed pre-state) can
            # bucket-prune without re-scanning the commit's files -- the
            # labels clustered-delta commits get from their layout for free
            key0 = self.key[0]
            k0_type = next(
                (f.dataType for f in new_schema.fields if f.name == key0), None
            )
            track_buckets = not self.cluster_deltas and k0_type is not None
            if track_buckets:
                stats_fields.append(T.StructField(key0, k0_type, True))
                stats_aggs.append(
                    F.collect_set(self._bucket_expr(nb)).alias("bk")
                )
            per_part = (
                spark.read.options(**VERIFY_PAGE_CRC)
                .schema(T.StructType(stats_fields))
                .parquet(*written)
                .groupBy(INTERNAL_SRC)
                .agg(*stats_aggs)
                .collect()
            )
            if track_buckets:
                delta_buckets = sorted(
                    {int(b) for r in per_part for b in (r["bk"] or [])}
                )
            if self.collect_metrics:
                metrics["rows_in_per_src_partition"] = {
                    int(r[INTERNAL_SRC]): int(r["n"])
                    for r in per_part
                    if r[INTERNAL_SRC] is not None
                }
            if not use_observe:
                if footer_maxes is not None:
                    from datetime import datetime

                    max_ts = max(
                        datetime.fromisoformat(x) for x in footer_maxes
                    )
                else:
                    maxes = [r["m"] for r in per_part if r["m"] is not None]
                    max_ts = max(maxes) if maxes else None
                if self.collect_metrics:
                    total = sum(int(r["n"]) for r in per_part)
                    metrics["rows_in"] = total
                    metrics["rows_too_late"] = 0
                    metrics["rows_deduped"] = total  # fast path writes verbatim
                    metrics["rows_deleted"] = sum(int(r["d"] or 0) for r in per_part)
        ours = max_ts.isoformat(sep=" ") if max_ts is not None else None
        if self.collect_metrics:
            metrics.setdefault("rows_in", 0)
            metrics.setdefault("rows_too_late", 0)
            metrics.setdefault("rows_deduped", 0)
            metrics.setdefault("rows_deleted", 0)
            metrics["rows_upserted"] = metrics["rows_deduped"] - metrics["rows_deleted"]

        # ---- commit: optimistic-concurrency manifest swap.  The expensive
        # data-file writes above ran unlocked; under the (driver-side,
        # metadata-only) commit lock we re-read the current manifest and,
        # if another writer committed meanwhile, RECONCILE: an MoR append
        # only ADDS delta files, so re-applying our additions on top of the
        # latest manifest is always valid (concurrent appends commute, and
        # a racing compaction cannot have folded files it never saw
        # listed).  CoW rewrites base files computed FROM `cur`, which a
        # concurrent commit invalidates -> ConcurrentWriteConflict.
        # (ts_stats_new was harvested above, before the stats job, so the
        # fast path could reuse the footer maxima for the watermark.)

        def _manifest_for(base: dict) -> dict:
            # ONE code path for contended and uncontended commits: the
            # uncontended case is the base==cur degenerate form (every
            # reconcile comparison trivially equal), so the application
            # logic exists exactly once and cannot diverge between the two.
            # Refs pass through untouched for buckets this commit does not
            # modify -- that is what makes commit metadata O(touched).
            files_ = dict(base["files"])
            deltas_ = dict(base.get("deltas", {}))
            rebucketed = int(base.get("num_buckets", nb)) != nb
            if self.mode == "cow":
                # Iceberg-style OPTIMISTIC concurrency for CoW: the
                # rewrite stands iff no interleaved commit changed the
                # inputs it folded -- the touched buckets' base files
                # and clustered deltas, the FLAT delta list (its rows
                # for touched buckets were folded in), and the bucket
                # layout.  Disjoint-bucket writers commit concurrently
                # (their rewrites read and replace different state);
                # overlapping ones raise and the caller retries the
                # merge -- this batch token was never committed, so
                # the retry is exactly-once.  Validation compares the
                # PACKED per-bucket entries: a commit that does not
                # touch a bucket carries its entry through verbatim,
                # so inequality is exactly "someone changed it" (a
                # false positive only costs a retry).
                conflict = None
                if rebucketed:
                    conflict = "a rebucket committed"
                elif deltas_.get(_FLAT) != cur.get("deltas", {}).get(_FLAT):
                    conflict = "the flat delta list changed"
                else:
                    for b in touched:
                        bs = str(b)
                        if files_.get(bs) != cur["files"].get(bs) or deltas_.get(
                            bs
                        ) != cur.get("deltas", {}).get(bs):
                            conflict = f"bucket {bs} was rewritten"
                            break
                if conflict:
                    # the rewrite output is built on stale inputs --
                    # reclaim the claim now (live-pid sentinels would
                    # shield it from vacuum for the driver's lifetime).
                    # defer_delete: we hold the commit lock; merge's
                    # conflict handler empties the trash after release
                    self._abort_claim(sid, defer_delete=True)
                    raise ConcurrentWriteConflict(
                        f"{conflict} during this CoW rewrite; committing "
                        "would overwrite the concurrent change -- retry "
                        "the merge (this batch token was not committed)"
                    )
                for b in touched:
                    files_[str(b)] = []
                    deltas_[str(b)] = []
                files_.update(written_map)
                if deltas_.get(_FLAT) and set(map(str, touched)) >= set(files_):
                    deltas_[_FLAT] = []
                stats_ = {"touched_buckets": len(touched)}
            else:
                if rebucketed:
                    # a rebucket() committed mid-merge: our delta files are
                    # clustered by the OLD bucketing, so their per-bucket
                    # labels would lie under the new layout.  Attach them to
                    # the FLAT list instead -- always in scope, post-filtered
                    # by the new bucket expr, re-clustered at next compaction.
                    deltas_[_FLAT] = self._resolve_list(deltas_.get(_FLAT, [])) + written
                elif self.cluster_deltas:
                    for b, fs in written_map.items():
                        deltas_[b] = self._resolve_list(deltas_.get(b, [])) + fs
                else:
                    deltas_[_FLAT] = self._resolve_list(deltas_.get(_FLAT, [])) + written
                stats_ = {
                    "delta_files": self._count_files(deltas_),
                    "delta_commits": int(base.get("stats", {}).get("delta_commits", 0)) + 1,
                }
                if delta_buckets and not rebucketed:
                    # the bucket labels are a property of the batch, not of
                    # which base manifest won the race -- UNLESS a rebucket
                    # interleaved: ids computed under the old layout would lie
                    stats_["delta_buckets"] = delta_buckets
            if self.collect_metrics:
                # row stats keep every commit catalog-searchable
                stats_.update(
                    {
                        k: metrics[k]
                        for k in ("rows_in", "rows_upserted", "rows_deleted")
                    }
                )
            token_seq = dict(base.get("token_seq", {}))
            if tok_seq is not None:
                token_seq[tok_prefix] = max(int(token_seq.get(tok_prefix, -1)), tok_seq)
            # size-aware compaction bookkeeping: per-bucket accumulated
            # delta bytes, O(touched) upkeep per commit (reconcile-safe:
            # built on whatever base manifest wins the commit race)
            delta_bytes = {k: int(v) for k, v in (base.get("delta_bytes") or {}).items()}
            for b, n in written_bytes.items():
                # under a mid-merge rebucket the files went to the FLAT
                # list; account their bytes there too
                k = _FLAT if rebucketed else b
                delta_bytes[k] = delta_bytes.get(k, 0) + int(n)
            if self.mode == "cow":
                for b in touched:
                    delta_bytes[str(b)] = 0  # folded into the rewritten base
            # ONE list blob for the commit: base and delta lists plus the
            # CoW change sidecar
            files_, deltas_, changes_ = self._pack_maps(
                files_, deltas_, {"change_files": change_files}
            )
            # catalog payloads + file key-range stats ride along from base
            # (stats are keyed by immutable file paths, so a merge -- even
            # a CoW bucket rewrite -- can only leave entries DANGLING,
            # never wrong; sorted compaction trims)
            return self._child_manifest(
                base,
                sid,
                stats_,
                schema=merge_schemas(
                    T.StructType.fromJson(base["schema"]), batch_payload_schema
                ).jsonValue(),
                key=base.get("key", list(self.key)),
                num_buckets=int(base.get("num_buckets", nb)),
                files=files_,
                deltas=deltas_,
                committed_batches=self._committed_with(base, token, sid),
                token_seq=token_seq,
                delta_bytes=delta_bytes,
                high_watermark=max(
                    (x for x in (base.get("high_watermark"), ours) if x is not None),
                    default=None,
                ),
                # offsets carry FORWARD dict-merged: each consumer
                # (stream engine, matview, mirror) owns its key, and a
                # commit that doesn't speak for a key must not clobber
                # another consumer's position (a drift merge or
                # maintenance commit between mirror syncs would
                # otherwise reset last_applied to the root)
                offsets={**(base.get("offsets") or {}), **(offsets or {})} or None,
                # CoW precise change set (read_changes uses it over the
                # base-file diff); MoR commits have none
                **(changes_ if change_files else {}),
                # per-commit event-time stats for THIS commit's change
                # files: immutable metadata the windowed incremental read
                # prunes from without re-opening footers (Iceberg
                # per-manifest column-stats analog); never carried
                # forward, so manifests stay O(commit)
                **(
                    {"ts_stats_new": self._pack_key_stats(ts_stats_new)}
                    if ts_stats_new
                    else {}
                ),
            )

        skipped_result: dict[str, Any] | None = None
        with self._conflict_trash(), self._commit_lock():
            latest = self.manifest()
            if latest["snapshot_id"] != cur["snapshot_id"]:
                if token in latest["committed_batches"]:
                    # another writer committed this very token while we
                    # were writing: our fully-written attempt is moot.
                    # Condemn its claim NOW (a skip is not an exception,
                    # so merge()'s failure handler never sees it) and
                    # delete outside the lock.
                    self._abort_claim(sid, defer_delete=True)
                    skipped_result = {
                        "snapshot_id": latest["committed_batches"][token],
                        "skipped": True,
                        "batch_token": token,
                    }
                # CoW conflicts are validated bucket-by-bucket inside
                # _manifest_for (Iceberg-style optimistic concurrency):
                # disjoint-bucket rewrites reconcile, overlapping raise
            if skipped_result is None:
                manifest = _manifest_for(latest)
                self._commit(manifest)
        inflight.sid = None  # committed (or moot): never abort it
        if skipped_result is not None:
            self._empty_trash()
            return skipped_result
        if self.collect_metrics:
            metrics["high_watermark"] = manifest["high_watermark"]
        metrics["snapshot_id"] = sid

        # auto-compaction, two triggers:
        # * SIZE (auto_compact_bytes set): when accumulated delta bytes
        #   cross the threshold, fold ONLY the buckets over their
        #   per-bucket threshold -- the 100 TB policy (a cadence compact
        #   shuffles hot and cold buckets alike);
        # * CADENCE (delta commits since last compaction): the simple
        #   bound on read amplification; file counts vary with AQE.
        if self.mode == "mor":
            total_db = sum(int(v) for v in (manifest.get("delta_bytes") or {}).values())
            size_trigger = (
                self.auto_compact_bytes is not None
                and total_db >= self.auto_compact_bytes
                # damping: a size-triggered attempt that selected NOTHING
                # (bytes spread below every per-bucket threshold) must not
                # re-pay its O(delta files) stat scan on every subsequent
                # commit -- wait for meaningfully more bytes first
                and total_db >= getattr(self, "_size_compact_floor", 0)
            )
            cadence_trigger = (
                manifest["stats"].get("delta_commits", 0) >= self.compact_every
            )
            fold_in_flight = (
                self._compact_future is not None
                and not self._compact_future.done()
            )
            if (size_trigger or cadence_trigger) and not fold_in_flight:
                # CADENCE always means a FULL fold -- it is the bound on
                # read amplification for buckets the size policy never
                # selects; only a pure size trigger compacts selectively
                min_b = None
                if size_trigger and not cadence_trigger:
                    min_b = self.compact_min_bucket_bytes
                    if min_b is None:
                        min_b = max(self.auto_compact_bytes // max(nb, 1), 1)
                if self.async_compact:
                    # harvest the previous fold's outcome (it is done or
                    # absent -- fold_in_flight gated above), then launch
                    # this one in the background: the following batches'
                    # scan->project->write jobs back-fill the fold's
                    # reduce/straggler tail instead of idling behind it
                    self._harvest_compact(metrics)
                    self._launch_compact(spark, min_b, size_trigger, total_db)
                    metrics["compact_started"] = True
                else:
                    try:
                        res = self.compact(spark, min_bucket_bytes=min_b)
                        self._note_compact_result(res, size_trigger, total_db, metrics)
                    except ConcurrentWriteConflict:
                        # another writer's fold won the race; the trigger
                        # state persists, so a later commit retries -- a
                        # maintenance race must never kill the streaming
                        # query that tripped it.  The losing fold condemned
                        # its claim under the lock; delete it outside.
                        self._empty_trash()
                        metrics["compact_skipped"] = "concurrent"
            elif self._compact_future is not None and self._compact_future.done():
                # a background fold finished since the last commit: attach
                # its outcome to THIS batch's metrics (errors re-raise here,
                # exactly where the inline fold would have raised)
                self._harvest_compact(metrics)

        metrics["seconds"] = time.monotonic() - t0
        return metrics

    def import_files(
        self,
        spark: SparkSession,
        paths: str | list[str],
        batch_token: str | None = None,
        validate: bool = True,
        incremental: bool = False,
        collect_stats: bool = False,
    ) -> dict[str, Any]:
        """Zero-copy onboarding of existing parquet files -- the Iceberg
        ``add_files`` analog (reference analog: fetchez's local file
        injection, which registers already-downloaded files instead of
        re-fetching them -- /root/reference/src/fetchez/path.py).  The
        files are registered as FLAT delta files in ONE metadata commit:
        no rewrite, no data movement, O(files) footer reads.  At 100 TB
        this is the difference between "load the lake into the table"
        (a full copy) and "adopt it where it lies".

        Semantics: every imported row is a live insert that loses a
        same-``ts`` tie to any engine event (scan-time normalization
        gives imported rows ``_seq = -1``, ``_deleted = false`` -- see
        :meth:`_read_files`), so imports behave as backfill under the
        LWW fold.  The high watermark does NOT advance (backfill must
        not shift the late-event cutoff), and the table's key/``ts``
        types must hold exactly (narrower file columns upcast on read;
        genuinely new payload columns evolve the schema additively,
        same as a merge).  Compaction folds imported rows into owned
        base files like any other deltas; the source files themselves
        are user-owned and NEVER deleted by maintenance (expiry only
        removes dirs under ``<table_dir>/data``).

        Idempotence is committed-token-window only (the default token is
        content-addressed from the file list, so re-running the same
        import skips); the token-sequence watermark does not apply --
        import tokens carry no engine-issued sequence.

        ``validate=True`` (default) runs ONE column-pruned scan
        asserting no imported row has a null key or null ``ts`` (null
        keys would silently vanish into hash(null) bucketing).  Pass
        ``False`` to skip when the source is already trusted.

        ``incremental=True`` makes the call a DROP-FOLDER tail (the
        cloud-files auto-ingest shape, zero-copy): files this table has
        EVER imported are silently skipped instead of raising, so a
        cron/loop can point at a growing directory and each call adopts
        only the new files -- one metadata commit per call, nothing
        when the directory is quiet.

        ``collect_stats=True`` additionally records each imported file's
        leading-key [min, max] from its footer statistics into the
        table's ``key_stats`` (no Spark job; a file written without key
        statistics gets no entry and joins every lookup's scan) -- point
        lookups then PRUNE imported
        files before any compaction localizes them (without it, every
        flat delta joins every lookup's scan until the next fold; with
        a 10 TB adoption that is the difference between a point read
        touching 2 files and touching 10 TB).
        """
        if self.merge_mode == "partial":
            raise ValueError(
                "import_files is not supported on partial-update tables: "
                "imported whole rows have no per-column version pairs; "
                "replay them through merge() as change events instead"
            )
        if isinstance(paths, str):
            paths = [paths]
        files: list[str] = []
        for p in paths:
            p = os.path.abspath(p)
            if os.path.isdir(p):
                for root, _dirs, fns in os.walk(p):
                    files.extend(
                        os.path.join(root, fn)
                        for fn in fns
                        if fn.endswith(".parquet") and not fn.startswith(("_", "."))
                    )
            elif os.path.isfile(p):
                files.append(p)
            else:
                raise FileNotFoundError(f"import path does not exist: {p}")
        files = sorted(set(files))
        if not files:
            raise ValueError(f"no parquet files found under {paths!r}")
        table_root = os.path.abspath(self.table_dir) + os.sep
        owned = [f for f in files if f.startswith(table_root)]
        if owned:
            raise ValueError(
                f"cannot import the table's own files: {owned[:3]} -- they "
                "are already referenced (or are maintenance debris)"
            )
        empty = [f for f in files if os.path.getsize(f) == 0]
        if empty:
            raise ValueError(f"zero-byte parquet file(s): {empty[:3]}")

        cur = self.manifest()
        files_skipped = 0
        if incremental:
            # drop-folder mode: everything EVER imported is skipped up
            # front, so validation/stats below stay O(new files) on a
            # growing directory (re-checked against the latest manifest
            # under the commit lock)
            seen = self._imported_set(cur)
            kept = [f for f in files if f not in seen]
            files_skipped = len(files) - len(kept)
            files = kept
            if not files:
                return {
                    "snapshot_id": cur["snapshot_id"],
                    "skipped": True,
                    "batch_token": None,
                    "imported_files": 0,
                    "imported_bytes": 0,
                    "files_skipped": files_skipped,
                }
        cur_schema = T.StructType.fromJson(cur["schema"])
        # ONE distributed footer-merge job: the union schema across all
        # imported files (and the incompatible-types error if they clash)
        imp_schema = (
            spark.read.option("mergeSchema", "true").parquet(*files).schema
        )
        names = imp_schema.fieldNames()
        bad = [c for c in names if _is_internal_name(c) or c == _BUCKET]
        if bad:
            raise ValueError(
                f"imported file(s) carry engine-internal column(s) {bad}; "
                "strip them (files exported from another table should be "
                "replayed through merge(), not imported)"
            )
        retired = [c for c in names if c in (cur.get("retired_columns") or [])]
        if retired:
            raise ValueError(
                f"imported column(s) {retired} were DROPPED from this table; "
                "importing them would resurrect the name with stale "
                "pre-drop semantics -- rename them first"
            )
        # imports join the PHYSICAL layer (files at rest keep physical
        # names); a file speaking a LOGICAL name of a renamed column would
        # silently create a new physical column
        lmap = cur.get("logical_names") or {}
        misuse = [
            c for c in names if any(l == c and p != c for p, l in lmap.items())
        ]
        if misuse:
            raise ValueError(
                f"imported column(s) {misuse} are LOGICAL names of renamed "
                "columns; imported files must use the physical name(s) "
                f"({ {lmap[p]: p for p in lmap if lmap[p] in misuse} })"
            )
        required = list(self.key) + ["ts"]
        missing = [c for c in required if c not in names]
        if missing:
            raise ValueError(
                f"imported files lack required column(s) {missing} "
                f"(key {list(self.key)} + the LWW order column 'ts')"
            )
        if not isinstance(
            imp_schema["ts"].dataType, (T.TimestampType, T.TimestampNTZType)
        ):
            raise TypeError(
                f"imported 'ts' must be timestamp (the LWW order column), "
                f"got {imp_schema['ts'].dataType.simpleString()}"
            )
        # raises on incompatible overlapping types; widens/appends otherwise
        probe = merge_schemas(cur_schema, imp_schema)
        for k in self.key:
            if probe[k].dataType != cur_schema[k].dataType:
                raise TypeError(
                    f"imported key column {k!r} is WIDER than the table's "
                    f"recorded type ({imp_schema[k].dataType.simpleString()}"
                    f" vs {cur_schema[k].dataType.simpleString()}): base "
                    "files are bucket-clustered under the recorded type's "
                    "hash; load into a fresh table to re-key"
                )
        if validate:
            # one column-pruned scan: null keys/ts would vanish into
            # hash(null) buckets / lose every LWW comparison silently
            pruned = T.StructType([probe[c] for c in required])
            cond = F.lit(False)
            for c in required:
                cond = cond | F.col(c).isNull()
            n_bad = (
                spark.read.schema(pruned)
                .parquet(*files)
                .filter(cond)
                .limit(1)
                .count()
            )
            if n_bad:
                raise ValueError(
                    "imported files contain row(s) with a null key or null "
                    "ts; clean them first (or replay through merge() with "
                    "an explicit filter)"
                )
        imported_bytes = sum(os.path.getsize(f) for f in files)
        # per-commit event-time stats (footer reads, outside the lock):
        # windowed incremental reads prune imported files like any others
        # and, with collect_stats, per-file leading-key ranges from the
        # same footer statistics, so point lookups prune imported files
        # BEFORE compaction localizes them
        kcol = self._stats_key(probe) if collect_stats else []
        fstats = self._footer_burst(files, ["ts", *kcol])
        ts_stats_new = {
            f: [*e["ts"], fstats[f][1]]
            for f, e in self._json_ranges(fstats, ["ts"]).items()
        }
        new_key_stats = {
            f: e[kcol[0]] for f, e in self._json_ranges(fstats, kcol).items()
        }

        with self._commit_lock():
            latest = self.manifest()
            if incremental:
                # a concurrent poller may have adopted some of these files
                # since the pre-filter above: keep only the still-new ones
                seen = self._imported_set(latest)
                kept = [f for f in files if f not in seen]
                files_skipped += len(files) - len(kept)
                files = kept
                if not files:
                    return {
                        "snapshot_id": latest["snapshot_id"],
                        "skipped": True,
                        "batch_token": None,
                        "imported_files": 0,
                        "imported_bytes": 0,
                        "files_skipped": files_skipped,
                    }
                imported_bytes = sum(os.path.getsize(f) for f in files)
                fset = set(files)
                ts_stats_new = {
                    f: v for f, v in ts_stats_new.items() if f in fset
                }
            if batch_token is None:
                import hashlib

                h = hashlib.sha1("\n".join(files).encode()).hexdigest()[:16]
                batch_token = f"import:{h}"
            token = str(batch_token)
            if token in latest["committed_batches"]:
                return {
                    "snapshot_id": latest["committed_batches"][token],
                    "skipped": True,
                    "batch_token": token,
                }
            # re-derive against the manifest that wins the race: imports
            # only ADD flat deltas, so they commute with any concurrent
            # commit (same reconcile argument as MoR appends)
            new_schema = merge_schemas(
                T.StructType.fromJson(latest["schema"]), imp_schema
            )
            deltas_ = dict(latest.get("deltas", {}))
            flat_now = self._resolve_list(deltas_.get(_FLAT, []))
            dup = set(files) & set(flat_now)
            if dup:
                raise ValueError(
                    f"file(s) already imported and still pending: "
                    f"{sorted(dup)[:3]} (reads would double-scan them)"
                )
            sid = self._claim_sid(latest)
            with self._claim_guard(sid):
                deltas_[_FLAT] = flat_now + files
                delta_bytes = {
                    k: int(v) for k, v in (latest.get("delta_bytes") or {}).items()
                }
                delta_bytes[_FLAT] = delta_bytes.get(_FLAT, 0) + imported_bytes
                packed, imported = self._pack_maps(
                    deltas_,
                    {"imported_files": sorted(self._imported_set(latest) | set(files))},
                )
                manifest = self._child_manifest(
                    latest,
                    sid,
                    {
                        "delta_files": self._count_files(deltas_),
                        "delta_commits": int(
                            latest.get("stats", {}).get("delta_commits", 0)
                        )
                        + 1,
                        "imported_files": len(files),
                        "imported_bytes": imported_bytes,
                    },
                    schema=new_schema.jsonValue(),
                    deltas=packed,
                    committed_batches=self._committed_with(latest, token, sid),
                    delta_bytes=delta_bytes,
                    # the EVER-imported set: dedup memory for incremental
                    # mode and the scan-normalization marker.  Grows with
                    # files ever adopted (O(files), content-addressed blob
                    # rewritten only by import commits) -- the same order
                    # as the manifest's own file metadata, and the cost of
                    # "never adopt the same file twice" being exact.
                    **imported,
                )
                if ts_stats_new:
                    manifest["ts_stats_new"] = self._pack_key_stats(ts_stats_new)
                if new_key_stats:
                    ks = dict(self.key_stats(latest))
                    fset = set(files)
                    ks.update(
                        {f: v for f, v in new_key_stats.items() if f in fset}
                    )
                    manifest["key_stats"] = self._pack_key_stats(ks)
                self._commit(manifest)
        return {
            "snapshot_id": sid,
            "skipped": False,
            "batch_token": token,
            "imported_files": len(files),
            "imported_bytes": imported_bytes,
            "files_skipped": files_skipped,
        }

    @staticmethod
    def _sizes_by_bucket(resolved_map: dict[str, list[str]]) -> dict[str, int]:
        """Exact on-disk bytes per bucket for a resolved file map
        (maintenance-path O(files) stat; vanished files count 0)."""
        out: dict[str, int] = {}
        for b, fs in resolved_map.items():
            tot = 0
            for f in fs:
                try:
                    tot += os.path.getsize(f)
                except OSError:
                    pass
            out[b] = tot
        return out

    # ---------------------------------------------------- async maintenance
    def _launch_compact(
        self, spark: SparkSession, min_bucket_bytes, size_trigger, total_db=0
    ) -> None:
        """Run one merge-triggered fold on the sink's single background
        thread.  At most one in flight (callers gate on the previous
        future); Spark schedules the fold's jobs alongside the foreground
        batches' jobs FIFO, so the next appends back-fill the fold's
        straggler tail (guide 2.6)."""
        from concurrent.futures import ThreadPoolExecutor

        def _mark_tid() -> None:
            self._compact_tid = threading.get_ident()

        def _run() -> dict[str, Any]:
            return self.compact(spark, min_bucket_bytes=min_bucket_bytes)

        with self._compact_mu:
            if self._compact_future is not None:
                # another stream thread launched between our in-flight
                # check and here -- first writer wins, one fold at a time
                return
            if self._compact_pool is None:
                # created lazily, shut down by finish_maintenance()
                self._compact_pool = ThreadPoolExecutor(
                    1, thread_name_prefix="fetchez-compact", initializer=_mark_tid
                )
            fut = self._compact_pool.submit(_run)
            fut._fz_ctx = (bool(size_trigger), int(total_db))
            self._compact_future = fut

    def _harvest_compact(self, metrics: dict | None) -> dict[str, Any] | None:
        """Join the pending background fold (blocking if still running) and
        fold its outcome into ``metrics``.  ConcurrentWriteConflict is
        recorded, not raised (a racing writer's fold winning is benign --
        the inline path's contract); other errors re-raise at the caller,
        which is always a merge/compact/finish_maintenance call site."""
        with self._compact_mu:
            fut, self._compact_future = self._compact_future, None
        if fut is None:
            return None
        size_trigger, total_db = getattr(fut, "_fz_ctx", (False, 0))
        try:
            res = fut.result()
        except ConcurrentWriteConflict:
            self._empty_trash()
            if metrics is not None:
                metrics["compact_skipped"] = "concurrent"
            return None
        self._note_compact_result(res, size_trigger, total_db, metrics)
        return res

    def _note_compact_result(
        self, res: dict, size_trigger: bool, total_db: int, metrics: dict | None
    ) -> None:
        if res.get("compacted_buckets"):
            if metrics is not None:
                metrics["compacted"] = res["snapshot_id"]
            self._size_compact_floor = 0
        else:
            # selection matched nothing: report honestly and damp the
            # next size-triggered attempt
            if metrics is not None:
                metrics["compact_noop"] = True
            if size_trigger:
                self._size_compact_floor = int(total_db * 1.5)

    def finish_maintenance(self) -> dict[str, Any] | None:
        """Barrier for merge-triggered background maintenance: blocks until
        any in-flight fold commits and returns its result dict (None when
        nothing was pending).  Fold errors re-raise here.  The idle fold
        thread is then shut down (the next merge-triggered fold starts a
        new one), so a finished replay or stream leaves no thread behind."""
        try:
            return self._harvest_compact(None)
        finally:
            with self._compact_mu:
                pool = None
                if self._compact_future is None:
                    # a fold another stream thread launched since the
                    # join keeps its pool until the next barrier
                    pool, self._compact_pool = self._compact_pool, None
            if pool is not None:
                pool.shutdown(wait=True)
                self._compact_tid = None

    def compact(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        minor: bool = False,
        min_bucket_bytes: int | None = None,
        target_file_bytes: int | None = None,
        sort: bool | None = None,
        purge_tombstones_before=None,
        expire_rows_before=None,
        cluster_by: list[str] | None = None,
        bloom: bool = False,
    ) -> dict[str, Any]:
        """Fold delta files into base files for the given (or all) buckets.
        A major fold rewrites every base file of each bucket it folds.

        ``bloom=True`` (minor and major) writes a parquet footer bloom of
        the leading key into this fold's output files, sized to each row
        group's keys (see ``BLOOM_MAX_BYTES``).  Point lookups
        (``read(key_eq=...)`` / :meth:`lookup`) push ``key[0] = value``
        into the scan, which skips the row groups whose bloom excludes it
        -- inside the files key-range stats cannot prune (consolidated
        deltas, hash-mode bases).  A chunk that stayed dictionary-encoded
        gets no bloom: its dictionary prunes it instead.

        ``cluster_by`` ([numeric/timestamp/date payload columns]):
        Z-ORDER the fold output -- each column is quantile-bucketed into
        256 cells (boundaries sampled in one column-pruned scan, no
        shuffle), the cells bit-interleave into a Morton key, and each
        bucket's winners are range-clustered + locally sorted on it, so
        output files cover disjoint HYPER-RECTANGLES of the clustered
        space.  Per-file min/max for the cluster columns (exact footer
        statistics, O(files) driver reads, no Spark job) land in the
        manifest; slab
        reads (``read(range_hints=...)``) then skip files on EVERY
        clustered dimension, not just the leading key.  Costs one extra
        Exchange over plain compaction (the winners-only range pass --
        the Delta OPTIMIZE ZORDER shape) and is mutually exclusive with
        ``sort`` (one physical order per file).

        ``purge_tombstones_before`` (datetime or ISO string; default: the
        sink's ``tombstone_retention_seconds`` against the event-time high
        watermark) physically drops tombstone winners older than the
        horizon from major-fold output -- the DELETE-then-VACUUM second
        half.  Minor consolidation never purges: it folds only deltas, so
        an older row of the key may survive in the base and would
        resurrect.  Visible state is unchanged by construction (tombstone
        winners are filtered from every read); the one semantic edge is a
        late event older than a PURGED tombstone, which resurrects the
        key -- bound it with a retention >= the source's lateness window.

        A pure maintenance commit: final table state is unchanged (the
        reduction applied here is exactly the one readers were applying).

        ``minor=True`` consolidates delta files only -- per bucket, all
        delta files reduce to one, bases untouched.  Cost is O(deltas)
        instead of O(table), so it can run every few commits to bound MoR
        read amplification while major compaction stays rare (the
        RocksDB/Iceberg leveled-maintenance shape).  Flat deltas are
        clustered into per-bucket deltas in the process (migration path
        for ``cluster_deltas=False`` tables).

        ``min_bucket_bytes`` selects ONLY buckets whose accumulated delta
        bytes (exact, from file sizes) reach the threshold -- the
        size-aware policy: compaction cost scales with the data that
        needs folding, not the table.  ``target_file_bytes`` bin-packs
        each compacted bucket into ceil(bucket_bytes / target) output
        files (key-hash salted, still one shuffle) so file sizes converge
        to the target instead of one-ever-growing-file-per-bucket.

        ``sort`` (default: the sink's ``sort_on_compact``) range-clusters
        each compacted bucket's output on the table key and records
        per-file min/max leading-key stats, read from the written files'
        footer statistics (no Spark job), in the manifest -- point
        lookups then skip files, not just buckets, and row groups carry
        tight min/max.  Sorted mode sizes files via the range sampler
        (the key-hash salt bin-packing applies to hash mode only).
        """
        # one maintenance fold at a time: an explicit compact() barriers
        # behind any pending merge-triggered background fold (errors from
        # that fold re-raise HERE).  The background worker thread itself
        # skips the join -- it IS the pending fold.
        if threading.get_ident() != self._compact_tid:
            self.finish_maintenance()
        cur = self.manifest()
        schema = T.StructType.fromJson(cur["schema"])
        # compaction is table-wide maintenance: resolve all list refs up
        # front (reads/commits stay O(touched); this path is O(deltas))
        delta_map = self._resolve_map(cur.get("deltas", {}))
        base_map = self._resolve_map(cur["files"])
        if minor:
            delta_files = [f for fs in delta_map.values() for f in fs]
            if not delta_files:
                return {"snapshot_id": cur["snapshot_id"], "compacted_buckets": 0}
            sid = self._claim_sid(cur)
            with self._claim_guard(sid):
                written = self._dedup_write_bucketed(
                    self._read_files(
                        spark, delta_files, schema,
                        imported=self._imported_set(cur),
                    ).withColumn(
                        _BUCKET, self._bucket_expr(cur["num_buckets"])
                    ),
                    sid,
                    cur["num_buckets"],
                    schema,
                    combine_first=self._fold_combine_first(delta_files),
                    num_buckets=int(cur["num_buckets"]),
                    bloom=bloom,
                )
            # commit via consumed-file subtraction against the LATEST
            # manifest: delta files appended by concurrent streams during
            # this consolidation survive untouched (MoR maintenance
            # reconciles, it never conflicts)
            consumed = set(delta_files)
            with self._commit_lock():
                latest = self.manifest()
                deltas_ = self._unconsumed(latest.get("deltas", {}), consumed)
                if int(latest.get("num_buckets", cur["num_buckets"])) != int(
                    cur["num_buckets"]
                ):
                    # a rebucket() landed mid-consolidation: our outputs are
                    # clustered by the OLD bucketing -- flat-list them
                    deltas_[_FLAT] = self._resolve_list(deltas_.get(_FLAT, [])) + [
                        f for fs in written.values() for f in fs
                    ]
                else:
                    for b, fs in written.items():
                        deltas_[b] = self._resolve_list(deltas_.get(b, [])) + list(fs)
                # stats built from scratch: a minor compact is a pure
                # maintenance commit, so it must NOT inherit the parent
                # merge's rows_in/rows_upserted/rows_deleted (catalog
                # range filters like rows_in>=N would wrongly match it)
                manifest = self._child_manifest(
                    latest,
                    sid,
                    {"minor_compacted_files": len(delta_files)},
                    deltas=self._pack_maps(deltas_)[0],
                    delta_bytes=self._sizes_by_bucket(self._resolve_map(deltas_)),
                )
                self._commit(manifest)
            return {"snapshot_id": sid, "compacted_buckets": len(written), "minor": True}
        if cluster_by:
            if sort:
                raise ValueError(
                    "cluster_by and sort are mutually exclusive: a file has "
                    "one physical order (z-order for slab reads vs key order "
                    "for point lookups)"
                )
            from fetchez_spark.plans.zorder import check_cluster_types

            check_cluster_types(schema, list(cluster_by))
        has_flat = bool(delta_map.get(_FLAT))
        mv_pending = {str(x) for x in cur.get("mv_buckets", [])}
        gc_requested = (
            purge_tombstones_before is not None or expire_rows_before is not None
        )
        if has_flat:
            # flat deltas are unclustered -> fold everything (full compact)
            todo = sorted(set(cur["files"]) | (set(delta_map) - {_FLAT}))
            delta_files = [f for b, fs in delta_map.items() for f in fs]
        else:
            if buckets is None and min_bucket_bytes is not None:
                dsizes = self._sizes_by_bucket(delta_map)
                buckets = [
                    int(b)
                    for b, n in dsizes.items()
                    if b != _FLAT and n >= min_bucket_bytes
                ]
                if not buckets:
                    return {"snapshot_id": cur["snapshot_id"], "compacted_buckets": 0}
            todo = (
                [str(b) for b in buckets]
                if buckets is not None
                else [b for b, fs in delta_map.items() if fs]
            )
            # an EXPLICIT bucket list under a purge/expire request may name
            # delta-less buckets (purge_tombstones / purge_expired target
            # base files by footer stats); everything else folds
            # delta-bearing buckets
            if not (buckets is not None and gc_requested):
                todo = [b for b in todo if delta_map.get(b)]
            # a FULL fold also re-folds multi-version buckets (recorded by
            # the retired live-fraction fold: base files that still hold
            # superseded rows): they have maintenance pending even with
            # zero deltas, and folding them re-establishes one-row-per-key
            if buckets is None and mv_pending:
                todo = sorted(
                    set(todo) | {b for b in mv_pending if base_map.get(b)}
                )
            todo = [b for b in todo if delta_map.get(b) or base_map.get(b)]
            delta_files = [f for b in todo for f in delta_map.get(b, [])]
        if not delta_files and not (gc_requested and todo) and not mv_pending & set(todo):
            return {"snapshot_id": cur["snapshot_id"], "compacted_buckets": 0}
        files = [f for b in todo for f in base_map.get(b, [])] + delta_files
        sort_eff = (self.sort_on_compact if sort is None else sort) and not cluster_by
        cluster_expr = None
        if cluster_by:
            from fetchez_spark.plans.zorder import (
                quantile_boundaries,
                zorder_column,
            )

            # boundaries from the RAW fold input (stale rows included):
            # they only shape the cells -- correctness comes from the
            # written files' own footer stats, never from the sample
            boundaries = quantile_boundaries(
                self._read_files(
                    spark, files, schema, imported=self._imported_set(cur)
                ).select(*cluster_by),
                list(cluster_by),
            )
            cluster_expr = zorder_column(schema, boundaries, list(cluster_by))
        # tombstone GC: valid on every major-fold shape because each
        # selected bucket's fold covers EVERY file that can hold its keys
        # (base + all its deltas; keys never cross buckets, and when flat
        # deltas exist has_flat widens the fold to the whole table).  A
        # rebucket racing this fold is aborted by the num_buckets check at
        # commit time before the purged files could be referenced.
        purge = self._purge_horizon(cur, purge_tombstones_before)
        # row TTL physical expiry: same major-fold-only validity argument
        # as tombstone GC (the fold covers every file that can hold the
        # bucket's keys, so dropping an expired winner cannot resurrect an
        # older row of the key from an unfolded file)
        expire = self._ttl_horizon(cur, expire_rows_before)
        # claim LAST, directly before the first write: the z-order boundary
        # sampler above runs a Spark job, and a claim taken before it would
        # leak (live-pid-shielded) if that job failed
        sid = self._claim_sid(cur)
        target = target_file_bytes or self.target_file_bytes
        fanout_map: dict[int, int] | None = None
        n_parts = max(len(todo), cur["num_buckets"] if has_flat else 1)
        if target:
            bsizes = self._sizes_by_bucket(
                {b: base_map.get(b, []) + delta_map.get(b, []) for b in todo}
            )
            if has_flat:
                # flat deltas spread over every bucket: an equal share each
                nb = int(cur["num_buckets"])
                share = self._sizes_by_bucket({_FLAT: delta_map[_FLAT]})[_FLAT] // nb
                bsizes = {str(b): bsizes.get(str(b), 0) + share for b in range(nb)}
            fanout_map = {
                int(b): max(1, -(-int(n) // int(target))) for b, n in bsizes.items()
            }
            n_parts = max(n_parts, sum(fanout_map.values()))
        if cluster_expr is not None:
            # file sizing comes from the range sampler: keep the
            # target-derived n_parts (file grain) but not the hash salt
            fanout_map = None
        combine = (
            fanout_map is None
            and not sort_eff
            and cluster_expr is None
            and self._fold_combine_first(files)
        )
        with self._claim_guard(sid):
            written = self._dedup_write_bucketed(
                self._read_files(
                    spark, files, schema,
                    imported=self._imported_set(cur),
                ).withColumn(
                    _BUCKET, self._bucket_expr(cur["num_buckets"])
                ),
                sid,
                n_parts,
                schema,
                fanout_map=fanout_map,
                sort_output=sort_eff,
                purge_before=purge,
                expire_before=expire,
                cluster_expr=cluster_expr,
                combine_first=combine,
                num_buckets=int(cur["num_buckets"]),
                bloom=bloom,
            )
        # per-file statistics of the files this fold produced, from ONE
        # footer burst over every file of the buckets it touched (no Spark
        # job): leading-key ranges (sorted folds), cluster-column ranges
        # (z-order) and per-bucket row/tombstone counts for metadata-only
        # count().  Entries for the files this fold REPLACES are trimmed
        # below under the lock.  The whole stats group stays under the
        # claim guard: a failure here must reclaim the fold's claim like a
        # failure of the fold itself.
        with self._claim_guard(sid):
            kcol = self._stats_key(schema) if sort_eff else []
            cols = list(dict.fromkeys([*kcol, *(cluster_by or [])]))
            out_files = [f for fs in written.values() for f in fs]
            fstats = self._footer_burst(out_files, cols, count_dead=True)
            new_key_stats = {
                f: e[kcol[0]]
                for f, e in self._json_ranges(fstats, kcol, out_files).items()
            }
            new_col_stats = self._json_ranges(
                fstats, list(cluster_by or []), out_files
            )
            new_bucket_rows = self._collect_bucket_rows(written, fstats)
        consumed = set(delta_files)
        with self._conflict_trash(), self._commit_lock():
            latest = self.manifest()
            if latest["snapshot_id"] != cur["snapshot_id"]:
                # concurrent MoR appends reconcile (subtraction below keeps
                # their delta files); a racing BASE rewrite of a bucket we
                # rewrote does not -- both folds started from the same base
                # and would fork history
                if int(latest.get("num_buckets", cur["num_buckets"])) != int(
                    cur["num_buckets"]
                ):
                    self._abort_claim(sid, defer_delete=True)
                    raise ConcurrentWriteConflict(
                        "table was rebucketed during compaction; retry against "
                        "the new layout"
                    )
                for b in todo:
                    if latest["files"].get(b) != cur["files"].get(b):
                        self._abort_claim(sid, defer_delete=True)
                        raise ConcurrentWriteConflict(
                            f"racing compaction/rewrite of bucket {b}; run one "
                            "maintenance job per table"
                        )
            new_files = dict(latest["files"])
            new_deltas = self._unconsumed(latest.get("deltas", {}), consumed)
            for b in todo:
                new_files[b] = []
            for b, fs in written.items():
                new_files[b] = new_files.get(b, []) + list(fs)
            # delta commits that landed AFTER this fold started are still
            # pending; everything up to `cur` was folded.  A PARTIAL fold
            # (bucket-filtered by the caller or the size policy) keeps the
            # cadence counter untouched -- it did NOT fold the buckets the
            # cadence backstop exists to protect, so zeroing the counter
            # would defer their full fold indefinitely.
            partial = not set(todo) >= {
                b for b, fs in delta_map.items() if fs and b != _FLAT
            }
            if partial:
                dc = int(latest.get("stats", {}).get("delta_commits", 0))
            else:
                dc = max(
                    0,
                    int(latest.get("stats", {}).get("delta_commits", 0))
                    - int(cur.get("stats", {}).get("delta_commits", 0)),
                )
            # key-range stats: drop entries for files this fold replaced
            # (immutable files => remaining entries stay valid verbatim),
            # add this fold's sorted outputs
            replaced = {f for b in todo for f in base_map.get(b, [])} | consumed
            ks = dict(self.key_stats(latest))
            if ks or new_key_stats:
                ks = {f: v for f, v in ks.items() if f not in replaced}
                ks.update(new_key_stats)
            cs = dict(self.col_stats(latest))
            if cs or new_col_stats:
                cs = {f: v for f, v in cs.items() if f not in replaced}
                cs.update(new_col_stats)
            # every folded bucket is one-row-per-key again; multi-version
            # buckets it did not reach stay recorded, with no bucket_rows
            # entry (rows-minus-tombstones would double-count a key)
            mv = {str(x) for x in latest.get("mv_buckets", [])} - set(todo)
            brm = dict(latest.get("bucket_rows") or {})
            for b in todo:
                brm.pop(b, None)
            brm.update(new_bucket_rows)
            packed_files, packed_deltas = self._pack_maps(new_files, new_deltas)
            manifest = self._child_manifest(
                latest,
                sid,
                {"compacted_buckets": len(written), "delta_commits": dc},
                files=packed_files,
                deltas=packed_deltas,
                # refresh the size-policy bookkeeping from the exact
                # remaining delta files (maintenance path is O(deltas))
                delta_bytes=self._sizes_by_bucket(self._resolve_map(new_deltas)),
            )
            for k, v in (
                ("key_stats", ks and self._pack_key_stats(ks)),
                ("col_stats", cs and self._pack_key_stats(cs)),
                ("bucket_rows", brm),
                ("mv_buckets", sorted(mv)),
            ):
                if v:
                    manifest[k] = v
                else:
                    manifest.pop(k, None)
            self._commit(manifest)
        return {"snapshot_id": sid, "compacted_buckets": len(written)}

    def rebucket(
        self,
        spark: SparkSession,
        new_num_buckets: int,
        sort: bool | None = None,
    ) -> dict[str, Any]:
        """ONLINE bucket-count evolution (the Iceberg partition-evolution
        analog): rewrite the table's state into ``new_num_buckets``
        hash buckets in one maintenance commit, concurrent writers
        untouched.  The operational knob a growing table needs -- a layout
        chosen at 1 TB (32 buckets) throttles bucket-pruned reads and
        compaction parallelism at 100 TB (want 1024); conversely a shrunk
        table wants fewer, bigger buckets.

        Concurrency contract (same shape as :meth:`compact`):

        * the O(table) rewrite runs UNLOCKED; the commit reconciles under
          the commit lock;
        * MoR delta files appended while we rewrote are clustered by the
          OLD layout, so they are demoted to the FLAT delta list (always
          in scope, post-filtered by the new bucket expr, re-clustered at
          the next compaction) -- correctness never depends on a stale
          bucket label;
        * in-flight merges/minor-compactions that commit AFTER us detect
          the num_buckets change when they reconcile and flat-list their
          own outputs (see ``_manifest_for``); a racing BASE rewrite
          (another compact/rebucket) conflicts;
        * time travel holds: every manifest pins its own ``num_buckets``,
          so pre-rebucket snapshots read with the old layout;
        * ``read_changes``/``change_feed`` skip the rebucket commit (pure
          maintenance, ``rebucketed_from`` stats marker) and disable
          pre-state bucket pruning across a layout change.

        ``sort`` (default ``sort_on_compact``) range-clusters the new
        buckets and records per-file key stats, like a sorted compaction.
        """
        if int(new_num_buckets) < 1:
            raise ValueError("new_num_buckets must be >= 1")
        # a pending background fold would lose its commit race against the
        # layout change (rebucket conflicts with any base rewrite); barrier
        # it instead of provoking a guaranteed conflict
        self.finish_maintenance()
        cur = self.manifest()
        old_nb = int(cur["num_buckets"])
        if int(new_num_buckets) == old_nb:
            return {"snapshot_id": cur["snapshot_id"], "rebucketed": False}
        schema = T.StructType.fromJson(cur["schema"])
        base_map = self._resolve_map(cur["files"])
        delta_map = self._resolve_map(cur.get("deltas", {}))
        all_files = [f for fs in base_map.values() for f in fs] + [
            f for fs in delta_map.values() for f in fs
        ]
        sid = self._claim_sid(cur)
        sort_eff = self.sort_on_compact if sort is None else sort
        written: dict[str, list[str]] = {}
        with self._claim_guard(sid):
            if all_files:
                written = self._dedup_write_bucketed(
                    self._read_files(
                        spark, all_files, schema,
                        imported=self._imported_set(cur),
                    ).withColumn(
                        _BUCKET, self._bucket_expr(int(new_num_buckets))
                    ),
                    sid,
                    int(new_num_buckets),
                    schema,
                    sort_output=sort_eff,
                )
            kcol = self._stats_key(schema) if sort_eff else []
            new_key_stats = {
                f: e[kcol[0]]
                for f, e in self._json_ranges(
                    self._footer_burst(
                        [f for fs in written.values() for f in fs], kcol
                    ),
                    kcol,
                ).items()
            }
        consumed = set(all_files)
        with self._conflict_trash(), self._commit_lock():
            latest = self.manifest()
            if latest["snapshot_id"] != cur["snapshot_id"]:
                if int(latest.get("num_buckets", old_nb)) != old_nb:
                    self._abort_claim(sid, defer_delete=True)
                    raise ConcurrentWriteConflict(
                        "another rebucket committed concurrently; retry "
                        "against the new layout"
                    )
                for b in set(cur["files"]) | set(latest["files"]):
                    if latest["files"].get(b) != cur["files"].get(b):
                        self._abort_claim(sid, defer_delete=True)
                        raise ConcurrentWriteConflict(
                            "racing base rewrite during rebucket; run one "
                            "maintenance job per table"
                        )
            survivors = [
                f
                for v in latest.get("deltas", {}).values()
                for f in self._resolve_list(v)
                if f not in consumed
            ]
            new_deltas = {_FLAT: survivors} if survivors else {}
            packed_files, packed_deltas = self._pack_maps(written, new_deltas)
            manifest = self._child_manifest(
                latest,
                sid,
                # maintenance stats: state unchanged, change scans skip it;
                # cadence counter restarts under the new layout
                {"rebucketed_from": old_nb, "delta_commits": 0},
                num_buckets=int(new_num_buckets),
                files=packed_files,
                deltas=packed_deltas,
                delta_bytes=self._sizes_by_bucket(new_deltas),
            )
            # every pre-rebucket file was replaced: old key stats are all
            # dangling; keep only this rewrite's sorted outputs
            if new_key_stats:
                manifest["key_stats"] = self._pack_key_stats(new_key_stats)
            else:
                manifest.pop("key_stats", None)
            manifest.pop("col_stats", None)  # rewrite output is not z-ordered
            manifest.pop("bucket_rows", None)  # bucket ids renumbered
            manifest.pop("mv_buckets", None)  # full rewrite: single-version
            self._commit(manifest)
        return {
            "snapshot_id": sid,
            "rebucketed": True,
            "num_buckets": int(new_num_buckets),
            "flat_deltas": len(survivors),
        }

    # -------------------------------------------------------------- search
    def snapshot_records(self) -> list[dict[str, Any]]:
        """One flat metadata record per snapshot (the FRED index analog,
        /root/reference/src/fetchez/fred.py:88-133): id, parent, file
        counts, row stats, watermark."""
        out = []
        for sid in self.snapshots():
            m = self.manifest(sid)
            out.append(
                {
                    "snapshot_id": sid,
                    "parent": m.get("parent"),
                    "num_base_files": self._count_files(m.get("files", {})),
                    "num_delta_files": self._count_files(m.get("deltas", {})),
                    "high_watermark": m.get("high_watermark"),
                    "committed_tokens": len(m.get("committed_batches", {})),
                    **(m.get("stats") or {}),
                }
            )
        return out

    def search(
        self,
        eq: dict[str, Any] | None = None,
        ranges: dict[str, tuple[Any, Any]] | None = None,
    ) -> list[dict[str, Any]]:
        """Attribute search over snapshot metadata -- equality WHERE plus
        half-open ranges, mirroring FRED ``search``'s filter surface
        (/root/reference/src/fetchez/fred.py:153-221).

        ``ranges={'rows_in': (1000, None)}`` keeps snapshots with
        rows_in >= 1000; either bound may be None (open)."""
        return _filter_records(self.snapshot_records(), eq, ranges)

    def search_df(self, spark: SparkSession, **kwargs) -> DataFrame:
        """:meth:`search` results as a DataFrame (joinable with lineage)."""
        import json as _json

        recs = self.search(**kwargs)
        return spark.read.json(
            spark.sparkContext.parallelize([_json.dumps(r) for r in recs] or ["{}"])
        )

    # -------------------------------------------------------- index ingest
    # FRED ``ingest`` analog (/root/reference/src/fetchez/fred.py:256-356):
    # import an external CSV/JSON inventory into the table's catalog so a
    # user migrating an existing file/table manifest can query it through
    # the same search surface as snapshot metadata.
    def ingest_index(
        self,
        source_file: str,
        field_map: dict[str, str] | None = None,
        wipe: bool = False,
    ) -> dict[str, Any]:
        """Ingest a CSV or JSON record listing into the catalog index.

        Mirrors the reference's behavior: explicit ``field_map``
        (input_header -> catalog_field) renames win; a ``location`` field
        is heuristically detected from any url/link/path-ish header when
        absent (records with none are skipped, counted); numeric strings
        coerce to int/float so range search works.  Records are stored as
        ONE content-addressed blob and the manifest carries only the ref
        -- commit metadata stays O(1) however big the imported inventory
        is, and identical re-imports dedup to the same blob.  The commit
        is a metadata-only snapshot (data files untouched), reconciled
        under the commit lock like every other commit."""
        ext = source_file.rsplit(".", 1)[-1].lower()
        if ext == "csv":
            import csv

            with open(source_file, encoding="utf-8-sig") as f:
                items = list(csv.DictReader(f))
        elif ext == "json":
            with open(source_file, encoding="utf-8") as f:
                data = json.load(f)
            items = (
                data
                if isinstance(data, list)
                else data.get("files") or data.get("items") or []
            )
        else:
            raise ValueError(f"unsupported index format {ext!r} (csv or json)")
        field_map = field_map or {}
        records, skipped = [], 0
        for item in items:
            rec = {k: _coerce_scalar(v) for k, v in item.items() if k not in field_map}
            for src, dst in field_map.items():
                if src in item:
                    rec[dst] = _coerce_scalar(item[src])
            if "location" not in rec:
                hit = next(
                    (
                        k
                        for k in rec
                        if any(s in k.lower() for s in ("url", "link", "path"))
                    ),
                    None,
                )
                if hit is None:
                    skipped += 1
                    continue
                rec["location"] = rec[hit]
            records.append(rec)
        existing: list[dict[str, Any]] = []

        def change(latest):
            nonlocal existing
            existing = [] if wipe else self.index_records(latest)
            return (
                {"index": self._pack_blob(existing + records)},
                {"ingested_records": len(records)},
            )

        sid = self._commit_metadata(change)["snapshot_id"]
        return {
            "snapshot_id": sid,
            "ingested": len(records),
            "skipped": skipped,
            "total_records": len(existing) + len(records),
        }

    def index_records(self, manifest: dict | None = None) -> list[dict[str, Any]]:
        ref = (manifest or self.manifest()).get("index")
        return self._resolve_blob(ref) if ref else []

    def search_index(
        self,
        eq: dict[str, Any] | None = None,
        ranges: dict[str, tuple[Any, Any]] | None = None,
    ) -> list[dict[str, Any]]:
        """FRED-style attribute search over the ingested index records
        (same filter surface as :meth:`search`)."""
        return _filter_records(self.index_records(), eq, ranges)

    def index_df(self, spark: SparkSession) -> DataFrame:
        """Ingested index as a DataFrame (the at-scale query face)."""
        recs = self.index_records()
        return spark.read.json(
            spark.sparkContext.parallelize([json.dumps(r) for r in recs] or ["{}"])
        )

    def _pack_blob(self, obj) -> str:
        """Arbitrary JSON object -> content-addressed immutable blob ref
        (same write-once primitive as :meth:`_pack_list`)."""
        body = json.dumps(obj, sort_keys=True, default=str)
        return "ref:" + self._write_blob_body(body, "blob")

    def _resolve_blob(self, ref: str):
        return _blob_entry(self._load_blob(_blob_name(ref)), ref)

    # ------------------------------------------------------------- maintain
    def rollback(self, snapshot_id: str) -> None:
        # Validate it exists before moving the pointer (branch-local:
        # rolls back the branch THIS sink is on).  Under the commit lock:
        # unlocked, a concurrent expire could delete the target manifest
        # between this check and the pointer move (the target is OLD
        # history, exactly what expire removes), leaving VERSION dangling
        # and the table unreadable.  Serialized, expire's listing either
        # sees the moved pointer (head retained) or the check fails loudly.
        with self._commit_lock():
            # resolve FIRST: manifest() accepts tag/branch names, so a
            # named ref would validate fine and then be written verbatim
            # into VERSION -- a head pointer no manifest read can resolve
            sid = self.resolve_ref(snapshot_id)
            self.manifest(sid)
            self._set_version(sid)

    # ------------------------------------------------------------- branches
    # Iceberg WAP (write-audit-publish): stage commits on a branch, audit
    # the staged state with ordinary reads, then PUBLISH -- one atomic
    # fast-forward of the main pointer.  Branches share the table's
    # snapshot space (sid claims are globally collision-free), so a
    # branch is exactly one pointer file; snapshot expiry protects every
    # branch head's reachable data.
    def branches(self) -> dict[str, str]:
        """{branch_name: head_snapshot_id}, main included."""
        out: dict[str, str] = {}
        main = self._version("main")
        if main:
            out["main"] = main
        for fn in sorted(os.listdir(self.table_dir)):
            if fn.startswith("VERSION-") and ".tmp." not in fn:
                name = fn[len("VERSION-"):]
                head = self._version(name)
                if head:
                    out[name] = head
        return out

    # ----------------------------------------------------------------- tags
    # Iceberg TAGS: immutable named refs to snapshots ("v1.0", "audited-
    # 2025-01-01") -- one pointer file, retained by expiry with its parent
    # chain down to history, readable anywhere a snapshot id is accepted
    # (``manifest()`` resolves named refs, so read/read_changes/
    # change_feed/time travel all take a tag name directly).
    def _tag_path(self, name: str) -> str:
        return os.path.join(self.table_dir, f"TAG-{name}")

    def clone_to(
        self,
        target_dir: str,
        ref: str | None = None,
        tag_name: str | None = None,
    ) -> "LocalSnapshotSink":
        """ZERO-COPY clone (the Delta ``SHALLOW CLONE`` / Iceberg
        snapshot-export analog): create a NEW, independently-writable
        table at ``target_dir`` whose first snapshot REFERENCES this
        table's data files instead of copying them -- a dev/test sandbox
        of a 100 TB table for the cost of one metadata commit.

        Mechanics and why it is safe:

        * file lists are absolute paths, so the clone's manifest simply
          points at the source's parquet files; list/catalog blobs are
          RE-PACKED into the clone's own blob store (blob GC is
          per-table);
        * maintenance is structurally isolated: ``vacuum_orphans`` /
          ``expire_snapshots`` only ever condemn directories under their
          OWN table's ``data/`` root, so clone-side maintenance can never
          delete source files and vice versa;
        * the cloned snapshot is protected from SOURCE expiry by an
          engine tag (``tag_name``, default ``clone-<hex>``) created
          atomically with the clone -- expiry retains tagged history.
          Dropping the tag hands the files' lifetime back to the source:
          do that only after the clone stops referencing them (e.g.
          after a full ``compact()``, which rewrites every bucket into
          clone-local files and makes the clone self-contained);
        * writes to the clone land under the CLONE's dir (deltas, then
          compaction progressively localizes buckets); the source never
          sees them.  Schema, key, merge_mode, properties, expectations,
          watermarks, and committed-token state all carry over, so a
          replayed stream is idempotent against the clone exactly as it
          would be against the source.

        ``ref``: snapshot id / tag / branch to clone (default: current
        head).  Returns a fresh sink opened on the clone."""
        src_sid = self.resolve_ref(ref) if ref else self._version()
        src = self.manifest(src_sid)
        if os.path.exists(os.path.join(target_dir, "VERSION")):
            raise ValueError(f"{target_dir} already holds a table")
        data_root = os.path.abspath(os.path.join(self.table_dir, "data"))
        if os.path.abspath(target_dir).startswith(data_root + os.sep):
            raise ValueError(
                "clone target cannot live under the source's data/ root "
                "(source maintenance would condemn it)"
            )
        tag = tag_name or f"clone-{uuid.uuid4().hex[:8]}"
        self.create_tag(tag, src_sid)  # pins the snapshot against expiry
        try:
            payload = T.StructType(
                [
                    f
                    for f in T.StructType.fromJson(src["schema"]).fields
                    if not _is_internal_name(f.name)
                ]
            )
            clone = LocalSnapshotSink(
                target_dir,
                num_buckets=int(src["num_buckets"]),
                key=list(src.get("key") or self.key),
                base_schema=payload,
                merge_mode=src.get("merge_mode"),
            )
            with clone._commit_lock():
                root = clone.manifest()
                sid = clone._claim_sid(root)
                # resolve via the SOURCE's blob store, re-pack into the
                # clone's: the clone must never depend on source blob
                # retention
                files_, deltas_ = clone._pack_maps(
                    self._resolve_map(src["files"]),
                    self._resolve_map(src.get("deltas", {})),
                )
                # the cloned snapshot's metadata under the clone's root;
                # every payload blob is re-packed into the clone
                manifest = clone._child_manifest(
                    src,
                    sid,
                    src.get("stats") or {},
                    parent=root["snapshot_id"],
                    key=list(src.get("key") or self.key),
                    files=files_,
                    deltas=deltas_,
                    cloned_from={
                        "table_dir": os.path.abspath(self.table_dir),
                        "snapshot_id": src_sid,
                        "tag": tag,
                    },
                )
                for k, ref in _payload_refs(manifest).items():
                    manifest[k] = clone._pack_blob(self._resolve_blob(ref))
                clone._commit(manifest)
        except BaseException:
            try:
                self.drop_tag(tag)
            except Exception:
                pass
            raise
        # re-open so the returned sink ADOPTS the cloned metadata
        # (properties, expectations, key, merge_mode) instead of the
        # bootstrap defaults the staging instance saw
        return LocalSnapshotSink(target_dir)

    def create_tag(self, name: str, snapshot_id: str | None = None) -> str:
        """Tag ``snapshot_id`` (default: current head) as ``name``.
        Tags are IMMUTABLE: re-tagging an existing name errors (drop it
        first) -- the reproducibility contract a 'this exact training
        set' label needs."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name) or name == "main":
            raise ValueError(f"invalid tag name {name!r}")
        # under the commit lock: expire_snapshots computes its keep set
        # (which includes tags) and deletes manifests while HOLDING the
        # lock, so a tag written without it could land between expire's
        # listing and its deletes — a tag pointing at a just-destroyed
        # manifest.  Serialized, either the tag exists when expire lists
        # (retained) or the manifest check below fails loudly (caller
        # re-resolves a fresh head).
        with self._commit_lock():
            if (
                os.path.exists(self._tag_path(name))
                or self._version(name) is not None
            ):
                raise ValueError(f"ref {name!r} already exists")
            sid = self.resolve_ref(snapshot_id) if snapshot_id else self._version()
            with open(self._manifest_path(sid)):  # must exist
                pass
            tmp = self._tag_path(name) + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(sid)
            os.replace(tmp, self._tag_path(name))
        return sid

    def tags(self) -> dict[str, str]:
        out: dict[str, str] = {}
        for fn in sorted(os.listdir(self.table_dir)):
            if fn.startswith("TAG-") and ".tmp." not in fn:
                with open(os.path.join(self.table_dir, fn)) as f:
                    out[fn[len("TAG-"):]] = f.read().strip()
        return out

    def drop_tag(self, name: str) -> None:
        try:
            os.remove(self._tag_path(name))
        except FileNotFoundError:
            raise ValueError(f"no tag named {name!r}") from None

    def resolve_ref(self, ref: str) -> str:
        """Named ref -> snapshot id: a snapshot id passes through; else a
        tag, else a branch head."""
        if ref.startswith("snap-"):
            return ref
        try:
            with open(self._tag_path(ref)) as f:
                return f.read().strip()
        except FileNotFoundError:
            pass
        head = self._version(ref)
        if head is not None:
            return head
        raise ValueError(f"unknown ref {ref!r} (not a snapshot id, tag, or branch)")

    # ------------------------------------------------- consumer cursors
    # Durable named CDC subscriber positions (the Kafka consumer-group
    # offset analog, stored table-side the way Kafka stores group offsets
    # broker-side): one ``CONSUMER-<name>`` pointer file per subscriber
    # holding the last snapshot it has fully processed.  Two jobs:
    #
    # * resume: ``follow_changes(consumer=...)`` and the
    #   ``fetchez_changes`` streaming source (option ``consumer``) pick
    #   up where the subscriber left off with no caller-side bookkeeping;
    # * retention protection: :meth:`expire_snapshots` retains the
    #   manifest chain from the current head back to every registered
    #   cursor, so a LAGGING subscriber's ``read_changes(from=cursor)``
    #   keeps working instead of dying with "expired" after maintenance.
    #   A dead subscriber pins history exactly like an abandoned Kafka
    #   group pins log segments — :meth:`table_report` surfaces the lag
    #   and :meth:`drop_consumer` releases it.
    #
    # Cursors are movable refs: same pointer-file mechanics as tags
    # (atomic replace, commit-lock serialization against expire's keep
    # scan), but advance-only by default (a backward move silently
    # re-delivers and usually signals two instances fighting over one
    # name; ``force=True`` for deliberate rewind/reprocessing).
    # (Reference analog: fetchez's resume-from-.part bookkeeping,
    # /root/reference/src/fetchez/core.py:862-905 — lifted from one
    # process's download queue to durable multi-subscriber positions.)
    def _consumer_path(self, name: str) -> str:
        return os.path.join(self.table_dir, f"CONSUMER-{name}")

    @staticmethod
    def _check_consumer_name(name: str) -> None:
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name) or name == "main":
            raise ValueError(f"invalid consumer name {name!r}")

    def register_consumer(
        self, name: str, from_snapshot: str | None = None
    ) -> str:
        """Create cursor ``name`` at ``from_snapshot`` (default: current
        head — i.e. 'subscribe to new changes only'; pass an older
        snapshot/tag/branch to backfill from it).  Errors if the name
        already exists: registration is the act that STARTS retention
        protection, and two subscribers sharing a name would corrupt each
        other's position — use distinct names."""
        self._check_consumer_name(name)
        with self._commit_lock():
            if os.path.exists(self._consumer_path(name)):
                raise ValueError(f"consumer {name!r} already exists")
            sid = (
                self.resolve_ref(from_snapshot)
                if from_snapshot
                else self._version()
            )
            if sid is None:
                raise ValueError("table has no head to subscribe from")
            with open(self._manifest_path(sid)):  # must exist
                pass
            self._write_consumer(name, sid)
        return sid

    def _write_consumer(self, name: str, sid: str) -> None:
        tmp = self._consumer_path(name) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(sid)
        os.replace(tmp, self._consumer_path(name))

    def consumers(self) -> dict[str, str]:
        """{consumer_name: cursor_snapshot_id} for every registered
        subscriber."""
        out: dict[str, str] = {}
        for fn in sorted(os.listdir(self.table_dir)):
            if fn.startswith("CONSUMER-") and ".tmp." not in fn:
                with open(os.path.join(self.table_dir, fn)) as f:
                    out[fn[len("CONSUMER-"):]] = f.read().strip()
        return out

    def consumer_cursor(self, name: str) -> str | None:
        """The snapshot id consumer ``name`` has processed through, or
        None if not registered."""
        try:
            with open(self._consumer_path(name)) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def advance_consumer(
        self, name: str, snapshot_id: str, force: bool = False
    ) -> str:
        """Move cursor ``name`` to ``snapshot_id`` (auto-registers a
        missing name: the streaming source's commit callback must be able
        to create its own cursor).  Refuses a move to a STRICT ANCESTOR
        of the current cursor — that rewinds the subscription, which is
        either an accident (two instances sharing a name) or a deliberate
        reprocess (``force=True``).  Moves to a non-ancestor, non-
        descendant sid (a rollback landed in between) are allowed: the
        cursor must be able to follow the table's actual head."""
        self._check_consumer_name(name)
        with self._commit_lock():
            sid = self.resolve_ref(snapshot_id)
            cur = self.consumer_cursor(name)
            if cur == sid:
                return sid  # no-op stamp (per-poll callers): skip the IO
            with open(self._manifest_path(sid)):  # must exist
                pass
            if cur is not None and not force:
                # rewind iff sid is a strict ancestor of the current
                # cursor: walk cur's parent chain (O(retained history),
                # driver-side metadata).  Anything NOT on that chain is
                # a legitimate move (forward, or across a rollback).
                walk: str | None = cur
                seen: set[str] = set()
                while walk is not None and walk not in seen:
                    seen.add(walk)
                    try:
                        walk = self.manifest(walk).get("parent")
                    except FileNotFoundError:
                        break
                    if walk == sid:
                        raise ValueError(
                            f"advance_consumer({name!r}) would REWIND the "
                            f"cursor from {cur} to its ancestor {sid} "
                            "(re-delivering that range); pass force=True "
                            "to reprocess deliberately"
                        )
            self._write_consumer(name, sid)
        return sid

    def drop_consumer(self, name: str) -> None:
        """Release ``name``'s retention pin and forget its position."""
        try:
            os.remove(self._consumer_path(name))
        except FileNotFoundError:
            raise ValueError(f"no consumer named {name!r}") from None

    def consumer_lag(self, name: str) -> dict[str, Any]:
        """How far behind the head cursor ``name`` is:
        ``{"snapshot", "behind", "resumable"}`` where ``behind`` counts
        commits between cursor and head (None when the cursor is off the
        head's retained chain) and ``resumable`` says whether
        ``read_changes(from=cursor)`` would succeed right now."""
        cur = self.consumer_cursor(name)
        if cur is None:
            raise ValueError(f"no consumer named {name!r}")
        behind: int | None = 0
        sid = self._version()
        seen: set[str] = set()
        while sid is not None and sid != cur and sid not in seen:
            seen.add(sid)
            try:
                sid = self.manifest(sid).get("parent")
            except FileNotFoundError:
                sid = None
                break
            behind += 1
        if sid != cur:
            behind = None
        return {
            "snapshot": cur,
            "behind": behind,
            "resumable": behind is not None,
        }

    # ------------------------------------------------ time-based time travel
    def committed_at(self, snapshot_id: str) -> float:
        """Wall-clock commit time (epoch seconds).  Manifests written
        before the stamp existed fall back to the manifest file's mtime
        (the atomic-rename time, i.e. the actual commit instant)."""
        path = self._manifest_path(snapshot_id)
        with open(path) as f:
            ca = json.load(f).get("committed_at")
        return float(ca) if ca is not None else os.path.getmtime(path)

    @staticmethod
    def _as_epoch(ts) -> float:
        import datetime as _dt

        if isinstance(ts, (int, float)):
            return float(ts)
        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            return ts.timestamp()
        raise TypeError(f"cannot interpret {ts!r} as a timestamp")

    def snapshot_as_of(self, ts) -> str:
        """The newest snapshot committed at-or-before ``ts`` (epoch float,
        ISO-8601 string — naive strings are UTC — or datetime): the
        Iceberg/Delta ``TIMESTAMP AS OF`` resolution.  Walks the current
        branch's parent chain (commit stamps are monotone along it by
        construction), so the walk is O(retained history) driver-side
        metadata, no Spark job.  Raises when even the oldest RETAINED
        snapshot is newer than ``ts`` — that history has been expired and
        a silent nearest-match would lie."""
        target = self._as_epoch(ts)
        sid = self._version()
        oldest_seen = None
        while sid is not None:
            try:
                when = self.committed_at(sid)
            except FileNotFoundError:
                break  # expired tail
            if when <= target:
                return sid
            oldest_seen = (sid, when)
            try:
                with open(self._manifest_path(sid)) as f:
                    sid = json.load(f).get("parent")
            except FileNotFoundError:
                break
        import datetime as _dt

        detail = (
            f"oldest retained snapshot {oldest_seen[0]} was committed at "
            f"{_dt.datetime.fromtimestamp(oldest_seen[1], _dt.timezone.utc).isoformat()}"
            if oldest_seen
            else "table has no retained history"
        )
        raise ValueError(f"no snapshot exists at or before {ts!r}: {detail}")

    def history(self, limit: int | None = None) -> list[dict[str, Any]]:
        """Commit history of the current branch, NEWEST FIRST — the Iceberg
        ``$history``/``$snapshots`` metadata-table analog: one dict per
        retained snapshot with its commit stamp and row stats.  Driver-side
        manifest walk, no Spark job."""
        out: list[dict[str, Any]] = []
        sid = self._version()
        while sid is not None and (limit is None or len(out) < limit):
            try:
                with open(self._manifest_path(sid)) as f:
                    m = json.load(f)
            except FileNotFoundError:
                break  # expired tail
            stats = m.get("stats") or {}
            out.append(
                {
                    "snapshot_id": sid,
                    "parent": m.get("parent"),
                    "committed_at": m.get("committed_at")
                    or os.path.getmtime(self._manifest_path(sid)),
                    "rows": stats.get("rows", stats.get("rows_in")),
                    "delta_commits": stats.get("delta_commits"),
                }
            )
            sid = m.get("parent")
        return out

    def files(self, snapshot_id: str | None = None) -> list[dict[str, Any]]:
        """The Iceberg ``$files`` metadata-table analog: one record per
        data file a snapshot references, driver-side from the manifest --
        no Spark job, O(files) work.  Accepts a snapshot id, tag, or
        branch name like every other read.  Fields per record:

        * ``path``, ``kind`` (``base`` | ``delta`` | ``flat``),
          ``bucket`` (int; ``None`` for flat fast-append deltas),
        * ``bytes`` (on-disk size; ``None`` if the file is unreadable --
          :meth:`fsck` is the loud version of that condition),
        * ``imported`` (onboarded zero-copy by :meth:`import_files`),
        * ``key_min``/``key_max`` (leading-key range when sorted
          compaction or ``collect_stats`` recorded one),
        * ``col_stats`` (z-order multi-column ranges when recorded).

        The operational companion to :meth:`table_report`'s aggregates:
        this is the per-file breakdown an operator sizes compaction and
        skew decisions by."""
        m = self.manifest(snapshot_id)
        kstats = self.key_stats(m)
        cstats = self.col_stats(m)
        imported = self._imported_set(m)

        def _size(p: str) -> int | None:
            try:
                return os.path.getsize(p)
            except OSError:
                return None

        out: list[dict[str, Any]] = []
        for kind, fmap in (
            ("base", self._resolve_map(m["files"])),
            ("delta", self._resolve_map(m.get("deltas", {}))),
        ):
            for b, fl in sorted(fmap.items()):
                flat = kind == "delta" and b == _FLAT
                for p in fl:
                    rng = kstats.get(p)
                    out.append(
                        {
                            "path": p,
                            "kind": "flat" if flat else kind,
                            "bucket": None if flat else int(b),
                            "bytes": _size(p),
                            "imported": p in imported,
                            "key_min": rng[0] if rng else None,
                            "key_max": rng[1] if rng else None,
                            "col_stats": cstats.get(p),
                        }
                    )
        return out

    # ------------------------------------------------ table properties
    def properties(self) -> dict[str, Any]:
        """The table's recorded properties (see ``_TABLE_PROPERTIES``) --
        the persisted maintenance/retention policy every fresh-session
        open adopts."""
        return dict(self.manifest().get("properties") or {})

    def set_properties(self, **props: Any) -> dict[str, Any]:
        """Record table properties in one metadata-only commit (the
        ``ALTER TABLE ... SET TBLPROPERTIES`` analog).  ``name=None``
        unsets a property (readers fall back to the constructor default).
        The live sink adopts the new values immediately; other open
        sinks adopt on their next fresh open.  Returns the full recorded
        map after the change."""
        unknown = sorted(set(props) - set(_TABLE_PROPERTIES))
        if unknown:
            raise ValueError(
                f"unknown table properties {unknown}; settable: "
                f"{sorted(_TABLE_PROPERTIES)}"
            )
        coerced: dict[str, Any] = {}
        for k, v in props.items():
            default, coerce = _TABLE_PROPERTIES[k]
            coerced[k] = None if v is None else coerce(v)

        def change(latest):
            cur = dict(latest.get("properties") or {})
            for k, v in coerced.items():
                if v is None:
                    cur.pop(k, None)
                else:
                    cur[k] = v
            return {"properties": cur}, {"properties_set": sorted(coerced)}

        cur = self._commit_metadata(change)["properties"]
        for k, v in coerced.items():
            default, _ = _TABLE_PROPERTIES[k]
            setattr(self, k, default if v is None else v)
            if v is None:
                self._session_properties.pop(k, None)
            else:
                self._session_properties[k] = v
        return cur

    def add_expectation(self, name: str, condition: str, action: str = "fail") -> dict[str, Any]:
        """Record a write-time expectation on the TABLE (one metadata-only
        commit) -- the Delta ``ALTER TABLE ADD CONSTRAINT`` analog: every
        writer that opens this dir enforces it from the next commit on,
        not just the session that declared it."""
        if action not in ("fail", "drop", "quarantine"):
            raise ValueError(
                f"expectation {name!r}: action must be fail/drop/quarantine, "
                f"got {action!r}"
            )
        # best-effort validation at ADD time (the Delta ADD CONSTRAINT
        # behavior): a typo'd condition recorded here would otherwise
        # abort EVERY writer's next merge with an analysis error that
        # never names the offending gate.  Needs a live session to parse;
        # without one (pure-metadata CLI) the check is skipped.
        active = SparkSession.getActiveSession()
        if active is not None:
            lmap = self._logical_map()
            logical = T.StructType(
                [
                    T.StructField(lmap.get(f.name, f.name), f.dataType, True)
                    for f in self.schema().fields
                ]
            )
            try:
                _ = active.createDataFrame([], logical).filter(condition).schema
            except Exception as e:
                raise ValueError(
                    f"expectation {name!r}: condition {condition!r} does not "
                    f"analyze against the table schema "
                    f"({[f.name for f in logical.fields]}): {e}"
                ) from None

        def change(latest):
            exps = [list(e) for e in latest.get("expectations") or []]
            if any(e[0] == name for e in exps):
                raise ValueError(
                    f"expectation {name!r} already recorded; drop it first"
                )
            exps.append([str(name), condition, action])
            return {"expectations": exps}, {"expectation_added": name}

        m = self._commit_metadata(change)
        sid, exps = m["snapshot_id"], [tuple(e) for e in m["expectations"]]
        self.expectations = list(exps)
        return {"snapshot_id": sid, "expectations": exps}

    def drop_expectation(self, name: str) -> dict[str, Any]:
        """Remove a recorded expectation (one metadata-only commit)."""
        def change(latest):
            exps = [list(e) for e in latest.get("expectations") or []]
            if not any(e[0] == name for e in exps):
                raise ValueError(
                    f"no expectation named {name!r} recorded "
                    f"(recorded: {sorted(e[0] for e in exps)})"
                )
            return (
                {"expectations": [e for e in exps if e[0] != name]},
                {"expectation_dropped": name},
            )

        m = self._commit_metadata(change)
        sid, exps = m["snapshot_id"], [tuple(e) for e in m["expectations"]]
        self.expectations = [e for e in self.expectations if e[0] != name]
        # an explicit drop through THIS sink sheds the gate for good: the
        # per-merge refresh re-applies constructor-declared session gates
        # on top of the recorded set, so leaving the name in
        # _session_expectations would silently resurrect it next merge
        self._session_expectations = [
            e for e in self._session_expectations if e[0] != name
        ]
        return {"snapshot_id": sid, "expectations": exps}

    # ------------------------------------------------ health report + auto
    def _per_bucket_compact_threshold(self) -> int | None:
        """The per-bucket delta-bytes threshold the size policy actually
        compacts by: explicit ``compact_min_bucket_bytes``, else the table
        trigger ``auto_compact_bytes`` spread across the buckets (the same
        derivation the post-merge auto-compact uses)."""
        if self.compact_min_bucket_bytes is not None:
            return self.compact_min_bucket_bytes
        if self.auto_compact_bytes is not None:
            nb = self.manifest().get("num_buckets") or 1
            return max(self.auto_compact_bytes // max(int(nb), 1), 1)
        return None

    def table_report(self) -> dict[str, Any]:
        """Driver-side table health report — manifest + filesystem metadata
        only, NO Spark job (the shape an operator of a 100 TB table reads
        before deciding maintenance): per-bucket base/delta bytes and file
        counts, read amplification, size skew, retained-history size, and
        a list of concrete recommendations keyed to the maintenance knobs
        that fix them."""

        def _bytes(paths: list[str]) -> int:
            total = 0
            for p in paths:
                try:
                    total += os.path.getsize(p)
                except OSError:
                    pass
            return total

        m = self.manifest()
        bases = self._resolve_map(m["files"])
        deltas = self._resolve_map(m.get("deltas", {}))
        recorded_db = {
            k: int(v) for k, v in (m.get("delta_bytes") or {}).items()
        }
        buckets: dict[str, dict[str, Any]] = {}
        for b in sorted(set(bases) | set(deltas), key=str):
            bb = _bytes(bases.get(b, []))
            db = recorded_db.get(b)
            if db is None:
                db = _bytes(deltas.get(b, []))
            buckets[b] = {
                "base_files": len(bases.get(b, [])),
                "base_bytes": bb,
                "delta_files": len(deltas.get(b, [])),
                "delta_bytes": db,
            }
        clustered = {b: v for b, v in buckets.items() if b != _FLAT}
        sizes = [v["base_bytes"] + v["delta_bytes"] for v in clustered.values()]
        mean = (sum(sizes) / len(sizes)) if sizes else 0.0
        skew = (max(sizes) / mean) if mean else 1.0
        n_snapshots = len(self.snapshots())
        report: dict[str, Any] = {
            "snapshot_id": m["snapshot_id"],
            "num_buckets": m.get("num_buckets"),
            "buckets": buckets,
            "total_base_bytes": sum(v["base_bytes"] for v in buckets.values()),
            "total_delta_bytes": sum(v["delta_bytes"] for v in buckets.values()),
            "max_delta_files_per_bucket": max(
                (v["delta_files"] for v in buckets.values()), default=0
            ),
            "bucket_size_skew": round(skew, 3),
            "retained_snapshots": n_snapshots,
            "sorted_stats_files": len(self.key_stats(m)),
            "properties": dict(m.get("properties") or {}),
            "expectations": [list(e) for e in m.get("expectations") or []],
            "recommendations": [],
        }
        # freshness: the CDC-lag surface an operator watches.  commit lag
        # (wall clock since the head landed) says whether the tail is
        # alive; the event-time high watermark says how far the DATA has
        # progressed — a live tail replaying an old backlog shows a small
        # commit lag and an old watermark.
        ca = m.get("committed_at")
        if ca is None:
            try:
                ca = os.path.getmtime(self._manifest_path(m["snapshot_id"]))
            except OSError:
                ca = None
        report["freshness"] = {
            "head_committed_at": ca,
            "commit_lag_seconds": (
                round(time.time() - float(ca), 3) if ca is not None else None
            ),
            "event_time_high_watermark": m.get("high_watermark"),
        }
        # subscriber lag: every registered consumer cursor pins retained
        # history (see register_consumer) — an operator reads this block
        # to find the dead subscriber holding snapshots hostage
        cons = self.consumers()
        if cons:
            report["consumers"] = {
                name: self.consumer_lag(name) for name in cons
            }
        rec = report["recommendations"]
        thresh = self._per_bucket_compact_threshold()
        hot = [
            b
            for b, v in buckets.items()
            if thresh and v["delta_bytes"] >= thresh
        ]
        if hot:
            rec.append(
                {"action": "compact", "buckets": sorted(hot, key=str),
                 "reason": f"delta_bytes >= {thresh}"}
            )
        elif report["max_delta_files_per_bucket"] >= 16:
            rec.append(
                {"action": "minor_compact",
                 "reason": "a bucket has >=16 delta files (read amplification)"}
            )
        if skew >= 4.0 and len(clustered) > 1:
            rec.append(
                {"action": "rebucket",
                 "reason": f"bucket size skew {skew:.1f}x >= 4x"}
            )
        if self.tombstone_retention_seconds is not None:
            rec.append(
                {"action": "purge_tombstones",
                 "reason": "event-time retention configured"}
            )
        if (
            self.snapshot_keep_last is not None
            and n_snapshots > self.snapshot_keep_last
        ):
            rec.append(
                {"action": "expire_snapshots",
                 "keep_last": self.snapshot_keep_last,
                 "reason": f"{n_snapshots} snapshots retained > "
                           f"snapshot_keep_last={self.snapshot_keep_last}"}
            )
        for name, lag in (report.get("consumers") or {}).items():
            if not lag["resumable"]:
                rec.append(
                    {"action": "drop_consumer", "consumer": name,
                     "reason": "cursor off retained history; the "
                               "subscription cannot resume"}
                )
            elif (
                self.snapshot_keep_last is not None
                and lag["behind"] is not None
                and lag["behind"] > self.snapshot_keep_last
            ):
                rec.append(
                    {"action": "investigate_consumer", "consumer": name,
                     "reason": f"{lag['behind']} commits behind head — "
                               "its pin keeps expire from trimming to "
                               f"snapshot_keep_last={self.snapshot_keep_last}"}
                )
        return report

    def fsck(self, deep: bool = False) -> dict[str, Any]:
        """Read-only structural integrity check — the ``CHECK TABLE`` an
        operator runs before trusting (or repairing) a table: every branch
        and tag resolves to a live manifest, every retained manifest
        parses with a valid schema/key/bucket layout, every list and
        catalog blob it references resolves, and every data file it names
        exists with nonzero size.  ``deep=True`` additionally opens the
        HEAD snapshot's parquet files (file magic + metadata), verifies
        each file's columns against the table schema, and reads every
        page, one row group at a time, checking its header CRC — the
        "bytes are intact" check a size-stat can't give.  A page that
        fails its CRC or no longer decodes is an error naming the file.

        Returns ``{"ok", "errors", "warnings", "checked"}``.  ``errors``
        are integrity violations (unreadable state / lost data);
        ``warnings`` are recoverable debris (orphan claim dirs, leftover
        trash, unreferenced blobs) that :meth:`vacuum_orphans` /
        :meth:`expire_snapshots` clean up — fsck itself never mutates
        anything.

        Locking: the metadata phase holds the commit lock (O(metadata),
        same order as a commit swap) so a racing expire can't yank
        manifests mid-listing and fabricate errors; the deep footer scan
        runs OUTSIDE the lock against the captured head (head files are
        always in every expire's keep set, so they can't be GC'd from
        under it — a vanished file there is a real error)."""
        errors: list[str] = []
        warnings: list[str] = []
        data_files: set[str] = set()
        live_blobs: set[str] = set()
        manifests: dict[str, dict] = {}

        on_disk: dict[str, Any] = {}

        def _list_from_disk(val) -> list[str]:
            # NEVER through _list_cache: fsck verifies what is ON DISK,
            # and this session may have written (and cached) the blob
            # whose file has since been lost.  Each blob is read once per
            # fsck (a commit's pack serves all its buckets).
            if isinstance(val, list):
                return val
            blob = _blob_name(val)
            if blob not in on_disk:
                on_disk[blob] = self._load_blob(blob)
            return _blob_entry(on_disk[blob], val)

        with self._commit_lock():
            sids = self.snapshots()
            heads = dict(self.branches())
            tags = dict(self.tags())
            head_sid = self._version()
            if head_sid is None:
                errors.append("no VERSION pointer: the table has no head")
            for sid in sids:
                try:
                    with open(self._manifest_path(sid)) as f:
                        manifests[sid] = json.load(f)
                except (OSError, ValueError) as e:
                    errors.append(f"manifest {sid} unreadable: {e}")
            for kind, refs in (("branch", heads), ("tag", tags)):
                for name, target in refs.items():
                    if target not in manifests:
                        errors.append(
                            f"{kind} {name!r} points at {target} whose "
                            "manifest does not exist"
                        )
            # a dangling consumer cursor is an unresumable SUBSCRIPTION,
            # not table corruption: the table reads fine; the subscriber
            # must re-register (full re-read) or be dropped
            for name, target in self.consumers().items():
                if target not in manifests:
                    warnings.append(
                        f"consumer {name!r} cursor points at expired "
                        f"snapshot {target}; the subscription cannot "
                        "resume (drop_consumer or re-register it)"
                    )
            for sid, m in manifests.items():
                if m.get("snapshot_id") != sid:
                    errors.append(
                        f"manifest {sid} records snapshot_id="
                        f"{m.get('snapshot_id')!r} (file/content mismatch)"
                    )
                try:
                    schema = T.StructType.fromJson(m["schema"])
                except Exception as e:
                    errors.append(f"manifest {sid} schema unparseable: {e}")
                    schema = None
                key = m.get("key") or list(self.key)
                if schema is not None:
                    missing = [k for k in key if k not in schema.fieldNames()]
                    if missing:
                        errors.append(
                            f"manifest {sid}: key column(s) {missing} absent "
                            "from the recorded schema"
                        )
                nb = int(m.get("num_buckets") or 0)
                if nb <= 0:
                    errors.append(f"manifest {sid}: num_buckets={nb!r}")
                parent = m.get("parent")
                if parent and parent not in manifests:
                    # legitimate after expiry trimmed the chain; only worth
                    # a warning (time travel past it is gone by policy)
                    warnings.append(
                        f"manifest {sid}: parent {parent} expired "
                        "(history truncates there)"
                    )
                for field in ("files", "deltas"):
                    for b, val in (m.get(field) or {}).items():
                        if b != _FLAT:
                            try:
                                ok_label = 0 <= int(b) < nb
                            except ValueError:
                                ok_label = False
                            if not ok_label:
                                errors.append(
                                    f"manifest {sid}: {field} bucket label "
                                    f"{b!r} outside 0..{nb - 1}"
                                )
                        if isinstance(val, str):
                            live_blobs.add(_blob_name(val))
                        try:
                            data_files.update(_list_from_disk(val))
                        except (OSError, KeyError) as e:
                            errors.append(
                                f"manifest {sid}: {field}[{b}] list blob "
                                f"missing: {e}"
                            )
                cf = m.get("change_files")
                if cf:
                    if isinstance(cf, str):
                        live_blobs.add(_blob_name(cf))
                    try:
                        data_files.update(_list_from_disk(cf))
                    except (OSError, KeyError) as e:
                        errors.append(
                            f"manifest {sid}: change_files blob missing: {e}"
                        )
                for k, ref in _payload_refs(m).items():
                    if k == "change_files":
                        continue  # checked with the data-file lists above
                    live_blobs.add(_blob_name(ref))
                    try:
                        _list_from_disk(ref)
                    except (OSError, KeyError) as e:
                        errors.append(
                            f"manifest {sid}: catalog blob {k!r} missing: {e}"
                        )
                if not isinstance(m.get("committed_batches"), dict):
                    errors.append(
                        f"manifest {sid}: committed_batches is not a "
                        "token->snapshot map"
                    )
            # data-file existence + size (stat only; footers are `deep`)
            bytes_total = 0
            for path in sorted(data_files):
                try:
                    size = os.path.getsize(path)
                except OSError:
                    errors.append(f"data file missing: {path}")
                    continue
                if size == 0:
                    errors.append(f"zero-byte data file: {path}")
                bytes_total += size
            # debris: orphan data dirs / leftover trash / unreferenced blobs
            data_root = os.path.join(self.table_dir, "data")
            orphan_dirs = in_flight = 0
            for snap in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
                snap_dir = os.path.join(data_root, snap)
                if any(f.startswith(snap_dir + os.sep) for f in data_files):
                    continue
                if self._claim_owner_alive(snap_dir):
                    in_flight += 1
                else:
                    orphan_dirs += 1
            if in_flight:
                warnings.append(
                    f"{in_flight} in-flight claim dir(s) (live writers — "
                    "expected beside a running stream)"
                )
            if orphan_dirs:
                warnings.append(
                    f"{orphan_dirs} orphan data dir(s) from crashed commits "
                    "(vacuum_orphans reclaims them)"
                )
            trash = self._trash_path()
            if os.path.isdir(trash) and os.listdir(trash):
                warnings.append(
                    "leftover .trash from interrupted maintenance "
                    "(the next expire/vacuum re-empties it)"
                )
            lists_dir = self._lists_dir()
            stray_blobs = (
                sum(
                    1
                    for fn in os.listdir(lists_dir)
                    if fn.endswith(".json") and fn not in live_blobs
                )
                if os.path.isdir(lists_dir)
                else 0
            )
            if stray_blobs:
                warnings.append(
                    f"{stray_blobs} unreferenced list/catalog blob(s) "
                    "(expire_snapshots GCs them)"
                )
            head_m = manifests.get(head_sid)
        if deep and head_m is not None:
            import pyarrow.parquet as pq

            phys = set()
            try:
                phys = set(
                    T.StructType.fromJson(head_m["schema"]).fieldNames()
                )
            except Exception:
                pass  # already reported above
            head_files: set[str] = set()
            for field in ("files", "deltas"):
                for val in (head_m.get(field) or {}).values():
                    try:
                        head_files.update(_list_from_disk(val))
                    except OSError:
                        pass  # already reported above
            for path in sorted(head_files):
                try:
                    meta = pq.ParquetFile(path, page_checksum_verification=True)
                except Exception as e:
                    errors.append(f"head data file footer unreadable: {path}: {e}")
                    continue
                extra = [
                    c
                    for c in meta.schema_arrow.names
                    if c not in phys and not _is_internal_name(c)
                ]
                if phys and extra:
                    errors.append(
                        f"head data file {path} carries column(s) {extra} "
                        "absent from the table schema"
                    )
                try:
                    for rg in range(meta.num_row_groups):
                        meta.read_row_group(rg)
                except Exception as e:
                    errors.append(f"head data file pages unreadable: {path}: {e}")
                finally:
                    meta.close()
        return {
            "ok": not errors,
            "errors": errors,
            "warnings": warnings,
            "checked": {
                "snapshots": len(manifests),
                "branches": len(heads),
                "tags": len(tags),
                "data_files": len(data_files),
                "data_bytes": bytes_total,
                "blobs": len(live_blobs),
                "deep": bool(deep),
            },
        }

    def auto_maintain(
        self,
        spark: SparkSession | None = None,
        keep_last: int | None = None,
        min_age_seconds: float = 3600,
        dry_run: bool = False,
    ) -> dict[str, Any]:
        """One-button maintenance: read :meth:`table_report`, run exactly
        the actions it recommends (size-aware compaction of the hot
        buckets, tombstone purge past the configured horizon), then the
        always-safe sweeps (vacuum of crashed-commit orphans; snapshot
        expiry when ``keep_last`` is given) — every phase age-guarded and
        commit-locked, so it is safe beside live writers.  ``dry_run``
        returns the plan without executing.  Compaction/purge need
        ``spark``; metadata-only phases don't."""
        report = self.table_report()
        plan = [dict(r) for r in report["recommendations"]]
        if keep_last is not None:
            # explicit arg overrides the table's snapshot_keep_last policy
            plan = [s for s in plan if s["action"] != "expire_snapshots"]
            if report["retained_snapshots"] > keep_last:
                plan.append(
                    {"action": "expire_snapshots", "keep_last": keep_last,
                     "reason": f"{report['retained_snapshots']} snapshots retained"}
                )
        plan.append({"action": "vacuum_orphans", "reason": "always-safe sweep"})
        if dry_run:
            return {"plan": plan, "executed": [], "report": report}
        executed: list[dict[str, Any]] = []
        for step in plan:
            act = step["action"]
            if act in ("compact", "minor_compact", "purge_tombstones") and (
                spark is None
            ):
                raise ValueError(f"auto_maintain: {act} needs a SparkSession")
            if act == "compact":
                thresh = self._per_bucket_compact_threshold()
                res = self.compact(
                    spark,
                    min_bucket_bytes=thresh,
                    target_file_bytes=self.target_file_bytes,
                    sort=self.sort_on_compact or None,
                )
            elif act == "minor_compact":
                res = self.compact(spark, minor=True)
            elif act == "purge_tombstones":
                res = self.purge_tombstones(spark)
            elif act == "expire_snapshots":
                res = self.expire_snapshots(
                    keep_last=step["keep_last"], min_age_seconds=min_age_seconds
                )
            elif act == "vacuum_orphans":
                res = {"removed": self.vacuum_orphans(min_age_seconds=min_age_seconds)}
            else:
                # layout-changing recommendations (e.g. rebucket) stay a
                # human decision: reported, never auto-executed
                executed.append({**step, "result": {"skipped": "manual action"}})
                continue
            executed.append({**step, "result": res})
        return {"plan": plan, "executed": executed, "report": report}

    def create_branch(self, name: str, from_snapshot: str | None = None) -> str:
        """Create branch ``name`` at ``from_snapshot`` (default: current
        main head).  Errors if it already exists."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name) or name == "main":
            raise ValueError(f"invalid branch name {name!r}")
        # under the commit lock for the same reason as create_tag: the
        # manifest-exists check and the pointer write must be atomic
        # against expire's keep-set listing, or the new branch can point
        # at a just-destroyed snapshot.
        with self._commit_lock():
            if self._version(name) is not None or os.path.exists(
                self._tag_path(name)
            ):
                raise ValueError(f"ref {name!r} already exists")
            # resolve named refs to a raw sid before writing the pointer
            # (same reason as rollback: VERSION must hold a snapshot id)
            head = (
                self.resolve_ref(from_snapshot)
                if from_snapshot
                else self._version("main")
            )
            self.manifest(head)  # must exist
            self._set_version(head, name)
        return head

    def drop_branch(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot drop main")
        try:
            os.remove(self._version_path(name))
        except FileNotFoundError:
            pass

    def _is_ancestor(self, ancestor: str, head: str) -> bool:
        """Walk ``head``'s parent chain looking for ``ancestor``.  A chain
        broken by an expired manifest returns False (publish then refuses
        rather than guessing -- keep unpublished branches younger than
        the expiry window, or raise keep_last)."""
        sid: str | None = head
        while sid is not None:
            if sid == ancestor:
                return True
            try:
                sid = self.manifest(sid).get("parent")
            except FileNotFoundError:
                return False
        return False

    def publish(self, name: str | None = None, drop: bool = True) -> dict[str, Any]:
        """Fast-forward main to a branch head (the WAP publish step).
        Atomic: downstream readers see either the old main or every
        staged commit at once.  Refuses (ConcurrentWriteConflict) when
        main advanced past the fork point since -- rebase by replaying
        the branch's batches onto a fresh branch (token idempotence makes
        the replay exactly-once) rather than silently dropping main's
        commits."""
        name = name or self.branch
        if name == "main":
            raise ValueError("publish needs a non-main branch")
        with self._commit_lock():
            bh = self._version(name)
            if bh is None:
                raise FileNotFoundError(f"branch {name!r} does not exist")
            mh = self._version("main")
            if bh != mh:
                if not self._is_ancestor(mh, bh):
                    raise ConcurrentWriteConflict(
                        f"branch {name!r} is not a fast-forward of main "
                        f"({mh} is not an ancestor of {bh}): main advanced "
                        "since the fork; replay the branch onto a fresh fork"
                    )
                self._set_version(bh, "main")
            if drop:
                self.drop_branch(name)
        return {"published": bh, "branch": name, "previous_main": mh}

    def snapshots(self) -> list[str]:
        return sorted(
            fn[:-5]
            for fn in os.listdir(os.path.join(self.table_dir, "manifests"))
            if fn.endswith(".json")
        )

    def _newest_mtime(self, path: str) -> float:
        """Newest mtime anywhere under ``path`` (recursive).  The top-level
        dir mtime alone is NOT a liveness signal: during a long Spark
        write, new part files land inside ``_temporary/_bucket=...``
        subtrees without touching the parent dir's mtime, so an in-flight
        commit whose data write outlives ``min_age_seconds`` would look
        idle to a flat check and get vacuumed mid-write."""
        newest = os.path.getmtime(path)
        for root, dirs, files in os.walk(path):
            for name in dirs + files:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(root, name)))
                except OSError:
                    pass  # files vanish as writes finalize
        return newest

    def _trash_path(self) -> str:
        return os.path.join(self.table_dir, ".trash")

    def _condemn(self, path: str) -> None:
        """Atomically move ``path`` into the table's ``.trash`` area --
        an O(1) rename, done UNDER the commit lock in place of an O(files)
        rmtree.  On a large table the physical delete of an expired
        snapshot dir takes seconds-to-minutes; doing it inside the lock
        would block every writer's commit swap for that long.  The caller
        runs :meth:`_empty_trash` after releasing the lock."""
        dst_root = self._trash_path()
        os.makedirs(dst_root, exist_ok=True)
        os.rename(
            path,
            os.path.join(
                dst_root, f"{os.path.basename(path)}.{uuid.uuid4().hex}"
            ),
        )

    def _empty_trash(self) -> None:
        """Physically delete condemned dirs, OUTSIDE the commit lock.
        Best-effort and crash-safe: a trashed path is definitionally
        doomed (renamed under the lock by a maintenance decision), so
        leftovers from a maintenance process that died mid-delete are
        simply re-emptied by the next pass; unique suffixes + ignore_errors
        make concurrent emptiers harmless to each other."""
        root = self._trash_path()
        if not os.path.isdir(root):
            return
        for fn in os.listdir(root):
            shutil.rmtree(os.path.join(root, fn), ignore_errors=True)

    def vacuum_orphans(self, min_age_seconds: float = 3600) -> int:
        """Delete data directories referenced by NO manifest -- leftovers
        of commits that crashed between data write and manifest/pointer
        swap (the crash window documented in the module docstring).

        The DECISION phase runs under the commit lock: the referenced-set
        and the removal must see ONE consistent manifest listing, else a
        commit landing between scan and removal would have its fresh data
        dir destroyed (unreferenced at scan time, referenced by the time
        the loop reaches it).  The PHYSICAL delete happens after the lock
        is released (condemned dirs are O(1)-renamed into ``.trash`` under
        the lock, then rmtree'd outside it), so the lock hold is
        O(metadata), not O(bytes-on-disk) -- on a 100 TB table the
        difference between microseconds and minutes of blocked commits.

        ``min_age_seconds`` additionally protects IN-FLIGHT commits: data
        files are written OUTSIDE the commit lock (by design), so a
        concurrent writer's claimed-but-uncommitted snapshot dir looks
        exactly like a crash leftover.  Only unreferenced dirs whose
        newest RECURSIVE mtime exceeds the threshold are removed (a live
        write keeps touching files deep in the tree).  Claims carry a
        pid/host sentinel (CLAIM.json): dirs owned by a live SAME-HOST
        process are always retained, so 0 is safe beside same-host
        writers; pass 0 with a remote writer running only if you accept
        the age guard being off."""
        with self._commit_lock():
            referenced: set[str] = set()
            for sid in self.snapshots():
                m = self.manifest(sid)
                for files in list(m["files"].values()) + list(m.get("deltas", {}).values()):
                    referenced.update(self._resolve_list(files))
                if m.get("change_files"):
                    referenced.update(self._resolve_list(m["change_files"]))
            removed = 0
            now = time.time()
            data_root = os.path.join(self.table_dir, "data")
            for snap in os.listdir(data_root):
                snap_dir = os.path.join(data_root, snap)
                if any(f.startswith(snap_dir + os.sep) for f in referenced):
                    continue
                if self._claim_owner_alive(snap_dir):
                    continue  # in-flight commit of a live same-host writer
                try:
                    # hard floor even at min_age_seconds=0: a dir created
                    # seconds ago is a claim whose CLAIM.json may not have
                    # landed yet (the mkdir-to-rename gap) -- retaining it
                    # one cycle is free, deleting it destroys a live write
                    young = (
                        now - self._newest_mtime(snap_dir)
                        < max(min_age_seconds, _CLAIM_AGE_FLOOR)
                    )
                except OSError:
                    continue  # vanished under us (concurrent maintenance)
                if young:
                    continue  # possibly an in-flight commit -- leave it
                self._condemn(snap_dir)
                removed += 1
        self._empty_trash()
        return removed

    def expire_snapshots(self, keep_last: int = 1, min_age_seconds: float = 3600) -> int:
        """Delete manifests, data dirs, and list blobs not referenced by
        the newest ``keep_last`` manifests NOR by any manifest younger
        than ``min_age_seconds`` (the Iceberg ``older_than`` semantic --
        young manifests may still be mid-read by a racing writer; see the
        inline comment).  Dirs referenced by NO manifest at all may belong to an
        in-flight commit (written outside the lock), so they additionally
        get the same ``min_age_seconds`` guard as :meth:`vacuum_orphans`
        (newest RECURSIVE mtime); dirs referenced only by expired
        manifests are old by construction and are removed unconditionally.

        The ENTIRE operation holds the commit lock and works off ONE
        manifest listing taken under it.  Without that, a commit landing
        between the keep/referenced scan and the later phases is
        destroyed: its data dir is in neither ``referenced`` nor
        ``ever_referenced`` so it is rmtree'd, the re-listed manifest loop
        deletes its manifest, and the blob GC deletes its fresh list
        blobs -- leaving VERSION pointing at a missing manifest.
        ``maintain --expire`` is explicitly supported beside live streams,
        so the race is reachable; the lock removes it."""
        with self._commit_lock():
            sids = self.snapshots()  # the ONE listing this whole op works off
            keep = sids[-keep_last:] if keep_last > 0 else []
            # AGE grace on manifests themselves (the Iceberg older_than
            # semantic): a writer's merge reads its base manifest and
            # resolves its list blobs UNLOCKED (by design -- the data
            # write must overlap), so a manifest committed moments ago
            # may still be mid-read by a racing merge; expiring it (and
            # GC-ing its blobs) would crash that writer.  Manifests
            # younger than min_age_seconds are therefore retained this
            # round regardless of keep_last; the next expire past the
            # grace window removes them.  min_age_seconds=0 (count-only
            # expiry): in-flight claim DIRS are protected by the live-pid
            # sentinel (see _claim_owner_alive), but this manifest/blob
            # grace window is what protects a CONCURRENT writer's unlocked
            # read of its base manifest's list blobs -- with 2+ writers,
            # a base can age out of keep_last mid-merge, so keep
            # min_age_seconds > the longest expected data-write when
            # multiple writers run.  Single-writer tables are safe at 0
            # (the writer's base is always the head, which keep_last
            # retains).
            if min_age_seconds > 0:
                now_m = time.time()
                for sid in sids:
                    if sid in keep:
                        continue
                    try:
                        age = now_m - os.path.getmtime(self._manifest_path(sid))
                    except OSError:
                        continue
                    if age < min_age_seconds:
                        keep.append(sid)
            # every branch head (main included) is reachable state: its
            # manifest, data, and blobs must survive expiry regardless of
            # keep_last, or an unpublished WAP branch loses its staged
            # commits to maintenance.  For non-main branches the parent
            # CHAIN down to the main head is retained too, so publish's
            # fast-forward ancestry check keeps working after expiry --
            # an active branch pins its reachable history (the Iceberg
            # ref-retention semantic); drop branches you abandon.
            heads = self.branches()
            main_head = heads.get("main")
            # tags are immutable refs: retained exactly like branch heads,
            # chain included (the Iceberg ref-retention semantic)
            heads.update(self.tags())
            for name, head in heads.items():
                # a ref whose manifest is already gone (created before
                # create_tag serialized with expire, or hand-edited state)
                # must not wedge maintenance forever: reads via the ref
                # already fail; warn and move on instead of crashing the
                # referenced-scan below on a sid we can never resolve.
                # EXCEPT main: a dangling main head means the table itself
                # is corrupt -- proceeding would drop the head's data from
                # the keep set and condemn it, making the corruption
                # permanent.  Refuse loudly so the operator repairs first.
                if not os.path.exists(self._manifest_path(head)):
                    if name == "main":
                        raise FileNotFoundError(
                            f"main points at snapshot {head} whose manifest "
                            "is missing -- table state is corrupt; restore "
                            "the manifest or rollback to a live snapshot "
                            "before running maintenance"
                        )
                    _LOG.warning(
                        "ref %r points at expired snapshot %s; skipping its "
                        "retention (drop the ref or restore the manifest)",
                        name,
                        head,
                    )
                    continue
                if head not in keep:
                    keep.append(head)
                if name == "main":
                    continue  # main's history is covered by keep_last
                sid: str | None = head
                walked: set[str] = set()
                while sid is not None and sid != main_head and sid not in walked:
                    walked.add(sid)
                    # read the manifest BEFORE retaining the sid: a chain
                    # crossing manifests expired in EARLIER rounds (a tag
                    # created after keep_last trimmed its ancestry) must
                    # truncate there -- appending first would put a dead
                    # sid in `keep` and crash the referenced-scan below.
                    try:
                        parent = self.manifest(sid).get("parent")
                    except FileNotFoundError:
                        break
                    if sid not in keep:
                        keep.append(sid)
                    sid = parent
            # consumer cursors pin the head->cursor SEGMENT: that chain is
            # exactly what read_changes(from=cursor) walks, so retaining
            # it keeps every lagging subscriber resumable (the Kafka
            # consumer-group retention semantic).  Walk from EVERY ref
            # head (main first, then branches/tags — a subscriber may be
            # tailing a branch) until the cursor is found.  A cursor whose
            # chain is already broken (registered before this expiry
            # discipline, or orphaned by a rollback) can't be repaired by
            # retention — warn and move on; reads via it already fail
            # loudly and drop_consumer releases it.
            for name, cur in self.consumers().items():
                if not os.path.exists(self._manifest_path(cur)):
                    _LOG.warning(
                        "consumer %r cursor points at expired snapshot %s; "
                        "its subscription is already unresumable (drop the "
                        "consumer or re-register it)",
                        name,
                        cur,
                    )
                    continue
                found = False
                for start in dict.fromkeys([main_head, *heads.values()]):
                    sid = start
                    seg: list[str] = []
                    walked_c: set[str] = set()
                    while (
                        sid is not None and sid != cur and sid not in walked_c
                    ):
                        walked_c.add(sid)
                        seg.append(sid)
                        try:
                            sid = self.manifest(sid).get("parent")
                        except FileNotFoundError:
                            sid = None
                            break
                    if sid == cur:
                        for s in seg + [cur]:
                            if s not in keep:
                                keep.append(s)
                        found = True
                        break
                if not found:
                    _LOG.warning(
                        "consumer %r cursor %s is not on any ref's retained "
                        "history; cannot protect its resume chain",
                        name,
                        cur,
                    )
            referenced: set[str] = set()
            live_blobs: set[str] = set()
            for sid in keep:
                m = self.manifest(sid)
                # every top-level ref is a live payload; of those only the
                # CoW change set lists data files
                live_blobs.update(_blob_name(r) for r in _payload_refs(m).values())
                for files in (
                    list(m["files"].values())
                    + list(m.get("deltas", {}).values())
                    + ([m["change_files"]] if m.get("change_files") else [])
                ):
                    if isinstance(files, str):
                        live_blobs.add(_blob_name(files))
                    referenced.update(self._resolve_list(files))
            # dirs referenced by ANY manifest in the listing (incl. soon-to-
            # expire ones) are definitely not in-flight; unreferenced dirs
            # get the age guard
            ever_referenced: set[str] = set()
            for sid in sids:
                m = self.manifest(sid)
                for files in list(m["files"].values()) + list(m.get("deltas", {}).values()):
                    ever_referenced.update(self._resolve_list(files))
                if m.get("change_files"):
                    ever_referenced.update(self._resolve_list(m["change_files"]))
            removed = 0
            now = time.time()
            data_root = os.path.join(self.table_dir, "data")
            for snap in os.listdir(data_root):
                snap_dir = os.path.join(data_root, snap)
                if any(f.startswith(snap_dir + os.sep) for f in referenced):
                    continue
                known = any(f.startswith(snap_dir + os.sep) for f in ever_referenced)
                if not known:
                    if self._claim_owner_alive(snap_dir):
                        continue  # in-flight commit of a live writer
                    try:
                        # same hard floor as vacuum_orphans: covers the
                        # mkdir-to-CLAIM.json gap of a brand-new claim
                        if now - self._newest_mtime(snap_dir) < max(
                            min_age_seconds, _CLAIM_AGE_FLOOR
                        ):
                            continue  # possibly in-flight
                    except OSError:
                        continue
                # O(1) rename under the lock; physical delete after release
                self._condemn(snap_dir)
                removed += 1
            # only remove sids from the listing this op scanned: a manifest
            # written after the listing (impossible under the lock, but the
            # invariant is cheap to keep explicit) is never touched
            for sid in sids:
                if sid not in keep:
                    os.remove(self._manifest_path(sid))
            # gc file-list blobs referenced by no retained manifest
            # (cheap os.remove per blob -- stays under the lock)
            if os.path.isdir(self._lists_dir()):
                for fn in os.listdir(self._lists_dir()):
                    if fn.endswith(".json") and fn not in live_blobs:
                        os.remove(os.path.join(self._lists_dir(), fn))
                        self._list_cache.pop(fn, None)
        # physical delete of condemned data dirs, outside the lock: the
        # lock hold stays O(metadata) while the rmtree does the slow work
        self._empty_trash()
        return removed
