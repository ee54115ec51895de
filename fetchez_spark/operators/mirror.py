"""Table-to-table CDC replication: keep a REPLICA snapshot table current
against a source table by consuming its commit ranges incrementally --
the downstream half of the CDC story (the upstream half being the
binlog-tail ingest, streaming/engine.py).  Reference analog: fetchez's
fetch-only-updates re-fetch loop (/root/reference/src/fetchez/core.py
incremental re-fetch), re-expressed as change-log shipping between lake
tables.

Design (all DataFrame ops, O(changes) per cycle):

* each sync reads the RAW change rows of the source's commit range
  (:meth:`LocalSnapshotSink.read_changes` ``include_internal=True`` --
  O(files added in range), never a table scan), reshapes them to
  change-event form (``op``/``seq`` from the persisted tombstone flag
  and ``_seq``), and merges them into the target through the ordinary
  exactly-once MERGE.  Because both tables reduce by the same
  (ts, _seq) last-writer-wins order, replaying the raw rows -- not the
  net winners -- reproduces the source's state for every touched key,
  including cross-cycle late events;
* the applied source snapshot rides the SAME commit (``offsets=``), so
  position tracking is atomic with the data: a crash between cycles
  resumes exactly, and a replayed cycle is skipped by its batch token
  (tokens are ``mirror-<source snapshot number>`` -- monotone, so the
  token-sequence watermark holds beyond the committed-token window);
* the FIRST sync is a snapshot copy (full state incl. tombstones), so a
  mirror created against an already-expired early history still starts
  correct; if a later range has been expired out from under the mirror
  (retention outlived -- same contract as any CDC consumer), it falls
  back to a RESYNC: snapshot copy + tombstones for target-live keys the
  source no longer has (each tombstone reuses the dead row's own
  ``(ts, _seq+1)`` so it wins LWW deterministically without inventing
  wall-clock time);
* additive schema evolution flows through untouched: the merge path
  widens the target like any other batch.

The definition (source dir) persists into the target's catalog
(``mirror_def`` -- carried forward by every merge, retained by expiry),
so ``TableMirror.load(target_dir)`` and the CLI can resume a mirror
from the target directory alone.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fetchez_spark.operators._incview import RetentionPinMixin
from fetchez_spark.sinks.local_snapshot import (
    INTERNAL_DELETED,
    INTERNAL_SEQ,
    INTERNAL_SRC,
    LocalSnapshotSink,
    _is_internal_name,
)

_ROOT_SNAPSHOT = "snap-0000000000"


def _snap_num(snapshot_id: str) -> int:
    return int(snapshot_id.rsplit("-", 1)[1])


class TableMirror(RetentionPinMixin):
    """Replicate ``source`` into the snapshot table at ``target_dir``.

    ``sync_once`` applies one commit range; ``follow`` keeps the replica
    continuously current (driver-side O(1) polling of the source's
    commit pointer, same as ``follow_changes``).  Each sync stamps a
    durable consumer cursor on the source (``mirror-<store hash>``), so
    a lagging replica's next range survives source ``expire_snapshots``
    instead of falling back to a full resync; ``pin_retention = False``
    opts out."""

    PIN_PREFIX = "mirror"

    @property
    def store(self):
        # the mixin derives the pin name from the consumer's own store dir
        return self.target

    def __init__(
        self,
        source: LocalSnapshotSink,
        target_dir: str,
        num_buckets: int | None = None,
    ) -> None:
        self.source = source
        self.target = LocalSnapshotSink(
            target_dir,
            num_buckets=num_buckets or source.manifest()["num_buckets"],
            key=list(source.key),
            base_schema=source.schema(),
            # a partial-update source ships SPARSE change rows (null =
            # unchanged); the replica must coalesce them the same way
            merge_mode=source.merge_mode,
            # sync tokens embed the source snapshot number, which is
            # non-monotone under multi-writer sources (sid claims can
            # commit out of numeric order): window-only exactly-once,
            # never the sequence watermark (see ConversationView)
            monotonic_tokens=False,
        )
        self._ensure_definition()

    # ------------------------------------------------------------- position
    def last_applied(self) -> str:
        off = self.target.manifest().get("offsets") or {}
        return off.get("upstream", _ROOT_SNAPSHOT)

    def _refresh_ordinal(self, store) -> int:
        """Strictly increasing per-sync sequence, persisted in the
        target's offsets atomically with the cursor (same contract as
        IncrementalView._refresh_ordinal: snapshot numbers are neither
        monotone nor unique over time, so tokens must not derive from
        them).  Legacy targets seed from the snapshot-number basis."""
        off = store.manifest().get("offsets") or {}
        if "refresh_seq" in off:
            return int(off["refresh_seq"]) + 1
        return _snap_num(off.get("upstream", _ROOT_SNAPSHOT)) + 1

    # ------------------------------------------------------------- reshape
    def _to_events(self, df: DataFrame) -> DataFrame:
        payload = [f.name for f in df.schema.fields if not _is_internal_name(f.name)]
        return df.select(
            F.when(F.col(INTERNAL_DELETED), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            *[F.col(c) for c in payload],
            F.col(INTERNAL_SEQ).alias("seq"),
            F.col(INTERNAL_SRC).cast("int").alias("src_partition"),
        )

    # ----------------------------------------------------------------- sync
    def sync_once(self, spark: SparkSession) -> dict[str, Any]:
        frm = self.last_applied()
        to = self.source.current_snapshot_id
        if frm == to:
            return {"from": frm, "to": to, "skipped": True}
        # retention pin at the applied position BEFORE reading the range
        # (a racing source expire can no longer force a resync mid-sync)
        self.pin_source_retention(frm)
        if frm == _ROOT_SNAPSHOT:
            # first sync: snapshot copy (tombstones included -- a late
            # pre-delete replay into the TARGET must still lose)
            events = self._to_events(
                self.source.read(
                    spark, snapshot_id=to, include_internal=True,
                    include_deleted=True, logical=False,
                )
            )
            mode = "snapshot"
        else:
            try:
                events = self._to_events(
                    self.source.read_changes(spark, frm, to, include_internal=True)
                )
                mode = "incremental"
            except (ValueError, FileNotFoundError):
                # the applied snapshot expired out from under us:
                # retention was outlived, resync from current state
                return self._resync(spark, to)
        # token basis: the mirror's own sync ordinal, not the source
        # snapshot number -- sid numbers are not unique over time (expire
        # can free a claim number for reuse) nor monotone under
        # multi-writer sources, and a reused number would make this sync
        # skip as a committed-window replay
        n_ord = self._refresh_ordinal(self.target)
        res = self.target.merge(
            events, batch_token=f"mirror-r{n_ord}",
            offsets={"upstream": to, "refresh_seq": n_ord},
            physical_names=True,
        )
        # adopt the source's column-rename map: the mirror ships the
        # PHYSICAL layer, so the map is directly valid on the replica and
        # the replica's read face matches the source's (idempotent --
        # set_logical_names skips when already equal)
        src_map = self.source.manifest(to).get("logical_names") or {}
        if (self.target.manifest().get("logical_names") or {}) != src_map:
            self.target.set_logical_names(src_map)
        self.pin_source_retention(to)
        return {
            "from": frm,
            "to": to,
            "mode": mode,
            "skipped": bool(res.get("skipped")),
            **{k: res[k] for k in ("snapshot_id",) if k in res},
        }

    def _resync(self, spark: SparkSession, to: str) -> dict[str, Any]:
        src = self.source.read(
            spark, snapshot_id=to, include_internal=True, include_deleted=True,
            logical=False,
        )
        events = self._to_events(src)
        key = list(self.target.key)
        # target-live keys the source no longer has ANY row for (even the
        # tombstone was compacted away): kill each with its own row's
        # (ts, _seq + 1) -- beats the stored row deterministically under
        # LWW without inventing a wall-clock instant
        tgt = self.target.read(spark, include_internal=True, logical=False)
        src_keys = src.select(*[F.col(k).alias(f"__mk_{k}") for k in key]).dropDuplicates()
        cond = None
        for k in key:
            c = tgt[k].eqNullSafe(src_keys[f"__mk_{k}"])
            cond = c if cond is None else (cond & c)
        payload = [f.name for f in tgt.schema.fields if not _is_internal_name(f.name)]
        gone = tgt.join(src_keys, cond, "left_anti").select(
            F.lit("D").alias("op"),
            *[F.col(c) for c in payload],
            (F.col(INTERNAL_SEQ) + F.lit(1)).alias("seq"),
            F.col(INTERNAL_SRC).cast("int").alias("src_partition"),
        )
        n_ord = self._refresh_ordinal(self.target)
        res = self.target.merge(
            events.unionByName(gone, allowMissingColumns=True),
            batch_token=f"mirror-r{n_ord}",
            offsets={"upstream": to, "refresh_seq": n_ord},
            physical_names=True,
        )
        src_map = self.source.manifest(to).get("logical_names") or {}
        if (self.target.manifest().get("logical_names") or {}) != src_map:
            self.target.set_logical_names(src_map)
        self.pin_source_retention(to)
        return {
            "from": "<resync>",
            "to": to,
            "mode": "resync",
            "skipped": bool(res.get("skipped")),
            **{k: res[k] for k in ("snapshot_id",) if k in res},
        }

    # --------------------------------------------------------------- follow
    def follow(
        self,
        spark: SparkSession,
        poll_seconds: float = 2.0,
        stop_event=None,
        timeout_seconds: float | None = None,
    ):
        """Generator keeping the replica continuously current: yields one
        metrics dict per applied commit range.  Commits landing between
        polls coalesce into one sync over the combined range."""
        deadline = (
            (time.monotonic() + timeout_seconds) if timeout_seconds else None
        )
        while True:
            if stop_event is not None and stop_event.is_set():
                return
            if deadline is not None and time.monotonic() >= deadline:
                return
            if self.source.current_snapshot_id != self.last_applied():
                yield self.sync_once(spark)
            else:
                time.sleep(poll_seconds)

    # ----------------------------------------------------------- definition
    def _ensure_definition(self) -> None:
        sink = self.target
        if sink.manifest().get("mirror_def"):
            return
        sink._commit_metadata(
            lambda latest: None
            if latest.get("mirror_def")
            else (
                {"mirror_def": sink._pack_blob({"source_dir": self.source.table_dir})},
                {"mirror_def_updated": True},
            )
        )

    @classmethod
    def load(cls, target_dir: str) -> "TableMirror":
        """Reconstruct a mirror from the target dir alone via the
        persisted definition (written at construction)."""
        target = LocalSnapshotSink(target_dir)
        ref = target.manifest().get("mirror_def")
        if not ref:
            raise KeyError(f"{target_dir} has no persisted mirror definition")
        d = target._resolve_blob(ref)
        return cls(LocalSnapshotSink(d["source_dir"]), target_dir)

    # ------------------------------------------------------------------ read
    def read_replica(self, spark: SparkSession) -> DataFrame:
        return self.target.read(spark)
