"""Change-data OUTBOX: publish a table's typed change feed as wire-format
JSON-lines files -- the OUTBOUND half of the CDC story.

The engine ingests six public envelopes (Debezium, Connect-wrapped,
Maxwell, Canal, DMS, native); ``ChangeOutbox`` closes the circle by
EMITTING one: each refresh encodes the unseen commit range's typed
change feed (``change_feed`` -- net insert/update/delete per key, with
pre-images) as Debezium or Maxwell envelopes, or the raw typed feed, and
publishes it as JSON-lines files a downstream system tails without the
engine -- including the engine itself (``run_stream(log_format='json',
transforms=[from_debezium])`` over the outbox dir reproduces the table,
pinned by the oracle query).  This is the transactional-outbox /
Debezium-server file-sink shape: databases export their WAL as files,
consumers replay them.  (Reference analog: fetchez's terminal step is
always "files on disk a downstream tool consumes",
/root/reference/src/fetchez/core.py fetch-and-write loop.)

Layout::

    _outbox/STATE.json    # {"upstream": cursor, "ordinal": N} (tmp+rename)
    _outbox/DEF.json      # persisted definition -> load()
    data/batch-<ordinal>-<k>.jsonl   # the wire bytes, one JSON per line

Delivery contract -- the honest CDC one: files appear ATOMICALLY (Spark
writes to a tmp dir, each part renames in) and a published FILENAME IS
NEVER REUSED OR DELETED.  A crash between publish and the STATE swap
re-publishes the same range under a fresh attempt id
(``batch-<ordinal>-a<attempt>-<k>.jsonl``) while the crashed attempt's
partial files stay in place -- a consumer that already ingested them
re-receives those events under the new names, so delivery is
AT-LEAST-ONCE with exactly-once EFFECT for LWW consumers (the
re-published events are identical -- same (ts, seq), same images;
replaying them through any of this engine's decode paths is a no-op),
and a filename-keyed consumer (Spark's file source dedups by name) can
never MISS rows to a rewrite: nothing it has seen ever changes or
vanishes.  Debezium/Kafka make the same promise.

Scale shape: each refresh is O(rows changed in range) -- the feed is
bucket-pruned and key-restricted upstream -- and the encode is pure
codegen (``to_json`` over struct columns); file count per batch follows
the feed's partitioning (``files_per_batch`` caps it -- the default of 1
fits the steady-state tail where each range is small; pass ``None`` for
a big backfill/first publish so the encode parallelizes and the batch
lands as one file per task).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
from types import SimpleNamespace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fetchez_spark.functions.epoch import epoch_ms, epoch_s

from fetchez_spark.operators._incview import (
    ROOT_SNAPSHOT,
    IncrementalView,
    atomic_write as _atomic_write,
)
from fetchez_spark.session import NO_CRC_SIDECARS

_LOG = logging.getLogger("fetchez_spark.outbox")

_META = "_outbox"
_FORMATS = ("debezium", "maxwell", "typed")
# to_json/from_json default to millisecond precision; the engine's event
# times are microsecond-grained and the (ts, seq) LWW order depends on it
# one pattern for BOTH timestamp types: JSON codecs route TIMESTAMP
# through timestampFormat and TIMESTAMP_NTZ through timestampNTZFormat
# (an NTZ-typed table encoded without the NTZ key would emit the ISO
# 'T' default and break every consumer parsing the documented pattern)
_TS_FMT = {
    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
}


class ChangeOutbox(IncrementalView):
    """See module docstring."""

    PIN_PREFIX = "outbox"

    def __init__(
        self,
        outbox_dir: str,
        source,
        format: str | None = None,
        source_name: str | None = None,
        files_per_batch: int | None = 1,
    ) -> None:
        """``format=None`` adopts a persisted definition (or the
        ``'debezium'`` default when creating) -- the re-open-with-source
        twin of :func:`fetchez_spark.api.change_outbox`'s None contract;
        an EXPLICIT value conflicting with the persisted definition is
        always refused.  ``source_name=None`` likewise adopts the
        persisted name on re-open rather than silently overriding it."""
        if format is not None and format not in _FORMATS:
            raise ValueError(f"format must be one of {_FORMATS}; got {format!r}")
        self.outbox_dir = os.path.abspath(outbox_dir)
        self.source = source
        self.files_per_batch = files_per_batch
        self.store = SimpleNamespace(table_dir=self.outbox_dir)
        os.makedirs(os.path.join(self.outbox_dir, _META), exist_ok=True)
        os.makedirs(os.path.join(self.outbox_dir, "data"), exist_ok=True)
        def_path = os.path.join(self.outbox_dir, _META, "DEF.json")
        if os.path.exists(def_path):
            with open(def_path) as f:
                d = json.load(f)
            if os.path.abspath(d["source_dir"]) != os.path.abspath(
                source.table_dir
            ):
                raise ValueError(
                    f"{outbox_dir} publishes {d['source_dir']!r}; refusing "
                    f"the conflicting source {source.table_dir!r}"
                )
            persisted_fmt = d.get("format", "debezium")
            if format is not None and persisted_fmt != format:
                raise ValueError(
                    f"{outbox_dir} publishes format {persisted_fmt!r}; "
                    f"refusing the conflicting {format!r} (mixed envelopes "
                    "in one outbox would corrupt every consumer)"
                )
            persisted_name = d.get("source_name")
            if source_name is not None and source_name != persisted_name:
                raise ValueError(
                    f"{outbox_dir} publishes source_name {persisted_name!r}; "
                    f"refusing the conflicting {source_name!r}"
                )
            self.format = persisted_fmt
            self.source_name = persisted_name
        else:
            self.format = "debezium" if format is None else format
            self.source_name = source_name
            _atomic_write(
                def_path,
                json.dumps(
                    {
                        "source_dir": os.path.abspath(source.table_dir),
                        "format": self.format,
                        "source_name": self.source_name,
                    }
                ),
            )

    @classmethod
    def load(cls, outbox_dir: str) -> "ChangeOutbox":
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        def_path = os.path.join(outbox_dir, _META, "DEF.json")
        if not os.path.exists(def_path):
            raise KeyError(f"{outbox_dir} has no persisted outbox definition")
        with open(def_path) as f:
            d = json.load(f)
        return cls(
            outbox_dir,
            LocalSnapshotSink(d["source_dir"]),
            format=d.get("format", "debezium"),
            source_name=d.get("source_name"),
        )

    # -------------------------------------------------------------- cursor
    def _state(self) -> dict:
        p = os.path.join(self.outbox_dir, _META, "STATE.json")
        if not os.path.exists(p):
            return {"upstream": ROOT_SNAPSHOT, "ordinal": 0}
        with open(p) as f:
            return json.load(f)

    def last_applied(self) -> str:
        return self._state()["upstream"]

    # -------------------------------------------------------------- encode
    def _encode(self, feed: DataFrame) -> DataFrame:
        """Typed feed -> one ``value`` string column of wire JSON."""
        from fetchez_spark.functions.cdc_formats import to_debezium, to_maxwell

        if self.format == "debezium":
            enc = to_debezium(feed, source_name=self.source_name)
        elif self.format == "maxwell":
            enc = to_maxwell(feed, database=self.source_name)
        else:  # typed: the feed itself, pre-image struct included
            enc = feed
        return enc.select(
            F.to_json(F.struct(*[F.col(c) for c in enc.columns]), _TS_FMT).alias(
                "value"
            )
        )

    # ------------------------------------------------------------- refresh
    def _refresh(self, spark: SparkSession) -> dict[str, Any]:
        src = self.source
        st = self._state()
        frm, to = st["upstream"], src.current_snapshot_id
        if frm == to:
            return {"from": frm, "to": to, "skipped": True}
        n_ord = int(st["ordinal"]) + 1
        # INTENT pin: a crashed attempt may have published part of its
        # range; a retry against a LATER head would compute a DIFFERENT
        # net feed (a key inserted in the old range and deleted after it
        # nets out of the wider range -- the stale insert would never be
        # countermanded downstream).  Record the attempted `to` before
        # writing anything and finish exactly that range on retry; the
        # next refresh then picks up from there.
        intent_path = os.path.join(self.outbox_dir, _META, "INTENT.json")
        intent = None
        if os.path.exists(intent_path):
            with open(intent_path) as f:
                intent = json.load(f)
        if intent and intent.get("ordinal") == n_ord:
            to = intent["to"]
        else:
            _atomic_write(
                intent_path, json.dumps({"ordinal": n_ord, "to": to})
            )
        data = os.path.join(self.outbox_dir, "data")
        # crash leftovers of this unpublished ordinal stay in place (a
        # consumer may have ingested them; published names are never
        # reused or deleted) -- this attempt publishes under the next
        # attempt id, duplicating their events at worst (LWW-safe)
        prefix = f"batch-{n_ord:08d}-"
        attempt = 0
        for f in os.listdir(data):
            if not f.startswith(prefix):
                continue
            seg = f[len(prefix):].split("-", 1)[0]
            if seg.startswith("a") and seg[1:].isdigit():
                attempt = max(attempt, int(seg[1:]) + 1)
            else:
                attempt = max(attempt, 1)
        feed = src.change_feed(spark, frm, to, include_pre_image=True)
        out = self._encode(feed)
        if self.files_per_batch:
            out = out.coalesce(self.files_per_batch)
        tmp = os.path.join(self.outbox_dir, _META, f"tmp-{n_ord:08d}")
        shutil.rmtree(tmp, ignore_errors=True)
        out.write.mode("overwrite").options(**NO_CRC_SIDECARS).text(tmp)
        parts = sorted(
            f for f in os.listdir(tmp) if f.startswith("part-") and
            os.path.getsize(os.path.join(tmp, f)) > 0
        )
        if not parts and attempt == 0:
            # empty-range refresh (e.g. a compaction-only commit): advance
            # ONLY the upstream cursor and leave the ordinal untouched.
            # Claiming an ordinal with zero published files would make
            # fsck report a permanent fake "coverage gap" (no consumer
            # can distinguish a legitimately-empty batch from deleted
            # files).  attempt > 0 means a crashed attempt already
            # published files under this ordinal, so it must be claimed.
            shutil.rmtree(tmp, ignore_errors=True)
            _atomic_write(
                os.path.join(self.outbox_dir, _META, "STATE.json"),
                json.dumps({"upstream": to, "ordinal": int(st["ordinal"])}),
            )
            try:
                os.remove(intent_path)
            except FileNotFoundError:
                pass
            return {
                "from": frm, "to": to, "ordinal": int(st["ordinal"]),
                "files": 0,
            }
        for k, f in enumerate(parts):
            os.rename(
                os.path.join(tmp, f),
                os.path.join(
                    data, f"batch-{n_ord:08d}-a{attempt:02d}-{k:05d}.jsonl"
                ),
            )
        shutil.rmtree(tmp, ignore_errors=True)
        _atomic_write(
            os.path.join(self.outbox_dir, _META, "STATE.json"),
            json.dumps({"upstream": to, "ordinal": n_ord}),
        )
        try:  # the intent is consumed by the publish; clear it
            os.remove(intent_path)
        except FileNotFoundError:
            pass
        return {"from": frm, "to": to, "ordinal": n_ord, "files": len(parts)}

    # --------------------------------------------------------------- rebase
    def rebase(self, spark: SparkSession, keep_batches: int = 2) -> dict[str, Any]:
        """Retention for the outbox -- the Kafka-log-compaction analog.

        Without it a NEW consumer must replay every batch ever published
        (unbounded history at an unbounded tail).  ``rebase`` publishes
        the table's CURRENT live state as a SNAPSHOT batch -- Debezium
        snapshot-read envelopes (op ``r``; Maxwell ``bootstrap-insert``;
        typed ``insert``).  The typed format carries each winner row's
        own (ts, seq) verbatim; the Debezium/Maxwell wire envelopes carry
        only the winner's timestamp (ts_ms / ts) and a bootstrapping
        consumer re-derives seq from it (``from_debezium`` fallback:
        ``seq = unix_millis(ts)``), so for those formats replaying
        snapshot + later batches is LWW-identical to the full history
        provided producer seq values don't exceed the epoch-millis of
        their own event time (true for every engine-generated seq; an
        exotic external producer whose seq outruns unix_millis(ts) should
        use ``format='typed'`` for rebase safety) -- then retires batch
        files more than
        ``keep_batches`` ordinals behind the cursor (the snapshot
        supersedes them).  Like Kafka segment deletion, retiring files a
        mid-replay consumer has listed but not read breaks THAT consumer;
        run rebase on the same cadence you would compact a topic, keeping
        ``keep_batches`` of headroom for in-flight tails.  Snapshot
        filenames (``snapshot-<ordinal>-a<attempt>-<k>.jsonl``) are never
        reused; re-running rebase at an unchanged cursor replaces the
        previous snapshot's coverage, retiring all superseded attempts
        EXCEPT the immediately-previous one (one generation of headroom
        for a consumer mid-bootstrap -- duplicate-state accumulation is
        bounded at two copies; ``keep_batches=0`` retires
        unconditionally)."""
        st = self._state()
        n_ord = int(st["ordinal"])
        data = self.data_dir()
        # never reuse a snapshot filename either
        sprefix = f"snapshot-{n_ord:08d}-"
        attempt = 0
        for f in os.listdir(data):
            if f.startswith(sprefix):
                seg = f[len(sprefix):].split("-", 1)[0]
                if seg.startswith("a") and seg[1:].isdigit():
                    attempt = max(attempt, int(seg[1:]) + 1)
        if not n_ord:
            # a snapshot must cover EXACTLY the published ordinals: at
            # ordinal 0 nothing is published, and snapshotting the live
            # head would let a later refresh's net feed silently omit a
            # countermand for rows the snapshot already shipped (the same
            # stale-insert hazard the INTENT pin closes for batches)
            raise ValueError(
                "rebase before the first refresh would snapshot state the "
                "cursor has not covered; refresh() first"
            )
        state = self.source.read(spark, snapshot_id=st["upstream"])
        payload_cols = list(state.columns)
        if self.format == "debezium":
            enc = state.select(
                F.to_json(
                    F.struct(
                        F.struct(*[F.col(c) for c in payload_cols]).alias("after"),
                        F.lit("r").alias("op"),
                        (
                            epoch_ms(state, "ts")
                            if "ts" in payload_cols
                            else F.lit(None).cast("long")
                        ).alias("ts_ms"),
                    ),
                    _TS_FMT,
                ).alias("value")
            )
        elif self.format == "maxwell":
            enc = state.select(
                F.to_json(
                    F.struct(
                        F.lit(self.source_name).cast("string").alias("database"),
                        F.lit("bootstrap-insert").alias("type"),
                        (
                            epoch_s(state, "ts")
                            if "ts" in payload_cols
                            else F.lit(None).cast("long")
                        ).alias("ts"),
                        F.struct(*[F.col(c) for c in payload_cols]).alias("data"),
                    ),
                    _TS_FMT,
                ).alias("value")
            )
        else:  # typed
            enc = state.select(
                F.to_json(
                    F.struct(
                        *[F.col(c) for c in payload_cols],
                        F.lit("insert").alias("_change_type"),
                    ),
                    _TS_FMT,
                ).alias("value")
            )
        tmp = os.path.join(self.outbox_dir, _META, f"tmp-snap-{n_ord:08d}")
        shutil.rmtree(tmp, ignore_errors=True)
        enc.write.mode("overwrite").options(**NO_CRC_SIDECARS).text(tmp)
        parts = sorted(
            f for f in os.listdir(tmp) if f.startswith("part-")
            and os.path.getsize(os.path.join(tmp, f)) > 0
        )
        for k, f in enumerate(parts):
            os.rename(
                os.path.join(tmp, f),
                os.path.join(data, f"{sprefix}a{attempt:02d}-{k:05d}.jsonl"),
            )
        shutil.rmtree(tmp, ignore_errors=True)
        # retire superseded files AFTER the snapshot is fully published.
        # ONE horizon for batches and OLDER-ordinal snapshots: ordinal <=
        # n_ord - keep_batches -- the headroom protects in-flight
        # consumers mid-read exactly as Kafka segment retention does.
        # Same-ordinal snapshot attempts keep ONE generation of headroom
        # (the immediately-previous attempt survives; older ones retire),
        # bounding duplicate-state accumulation at two copies without
        # deleting files out from under a consumer mid-bootstrap.  The
        # snapshot just written never retires (its attempt id is
        # current); foreign file names are left alone (fsck warns).
        retired = []
        horizon = n_ord - max(0, int(keep_batches))
        this_attempt = f"{sprefix}a{attempt:02d}-"
        for f in sorted(os.listdir(data)):
            if f.startswith(this_attempt):
                continue
            kind, _, rest = f.partition("-")
            if kind not in ("batch", "snapshot"):
                continue
            try:
                ordinal = int(rest.split("-", 1)[0])
            except ValueError:
                continue  # foreign name: never touch it
            if ordinal <= horizon:
                retired.append(f)
                continue
            if kind == "snapshot" and ordinal == n_ord:
                # superseded same-ordinal attempts are pure duplication
                # (same coverage, same state), but a consumer may be
                # MID-READ of the previous one -- retire all but the
                # immediately-previous generation (one attempt of
                # headroom, the same in-flight protection keep_batches
                # gives batches), so accumulation is bounded at two
                # copies instead of one-per-stale-attempt.
                # keep_batches == 0 retires unconditionally (the
                # explicit no-headroom mode, as for batches).
                seg = rest.split("-")[1] if "-" in rest else ""
                try:
                    a_num = int(seg[1:]) if seg.startswith("a") else -1
                except ValueError:
                    a_num = -1
                if keep_batches == 0 or (0 <= a_num < attempt - 1):
                    retired.append(f)
        for f in retired:
            os.remove(os.path.join(data, f))
        return {
            "snapshot_ordinal": n_ord,
            "files": len(parts),
            "retired": len(retired),
        }

    # ------------------------------------------------------------- follow
    def follow(
        self,
        spark: SparkSession,
        poll_seconds: float = 2.0,
        stop_event=None,
        timeout_seconds: float | None = None,
        rebase_every: int | None = None,
        keep_batches: int = 2,
    ):
        """The base follow loop plus an optional REBASE CADENCE: after
        every ``rebase_every`` published batches, publish a snapshot and
        retire superseded history (see :meth:`rebase`) -- the always-on
        deployment shape where the outbox never grows unboundedly.  A
        recipe passes these via ``view: {options: {rebase_every: 64}}``."""
        n = 0
        for r in super().follow(
            spark, poll_seconds=poll_seconds, stop_event=stop_event,
            timeout_seconds=timeout_seconds,
        ):
            yield r
            n += 1
            if rebase_every and n % int(rebase_every) == 0:
                yield {"rebase": self.rebase(spark, keep_batches=keep_batches)}

    # ----------------------------------------------------------------- fsck
    def fsck(self) -> dict[str, list[str]]:
        """Read-only integrity check: a consumer replaying the data dir
        must be able to reconstruct the table, which requires the
        published ordinals to COVER the cursor -- a snapshot (if any)
        plus a contiguous run of batches from just past its coverage up
        to ``STATE.ordinal``.  A gap means someone deleted batch files
        outside ``rebase`` (unrecoverable for new consumers: that
        range's changes are gone).  Files at ordinals beyond the cursor
        are crash-attempt leftovers (warning; superseded on the next
        refresh), as is a stale INTENT."""
        errors: list[str] = []
        warnings: list[str] = []
        st = self._state()
        cur = int(st["ordinal"])
        batches, snaps = set(), set()
        for f in os.listdir(self.data_dir()):
            kind, _, rest = f.partition("-")
            try:
                n = int(rest.split("-", 1)[0])
            except ValueError:
                n = None
            if kind == "batch" and n is not None:
                batches.add(n)
            elif kind == "snapshot" and n is not None:
                snaps.add(n)
            else:
                # a foreign name must never silently become a coverage
                # base -- that would mask a real gap
                warnings.append(f"unrecognized file name: {f}")
        base = max((s for s in snaps if s <= cur), default=0)
        missing = [n for n in range(base + 1, cur + 1) if n not in batches]
        if missing:
            errors.append(
                f"coverage gap: no batch files for ordinals {missing} "
                f"(snapshot covers <= {base}, cursor at {cur}) -- new "
                "consumers cannot reconstruct that range"
            )
        for n in sorted(batches | snaps):
            if n > cur:
                warnings.append(
                    f"files at ordinal {n} beyond the cursor ({cur}): "
                    "crash-attempt leftovers, superseded on next refresh"
                )
        intent_path = os.path.join(self.outbox_dir, _META, "INTENT.json")
        if os.path.exists(intent_path):
            with open(intent_path) as f:
                intent = json.load(f)
            # ordinal == cur+1 is an in-flight/crashed attempt (normal);
            # <= cur means the publish succeeded but the cleanup didn't
            if int(intent.get("ordinal", 0)) <= cur:
                warnings.append(
                    "stale INTENT for an already-published ordinal "
                    "(harmless; overwritten on next refresh)"
                )
        return {"errors": errors, "warnings": warnings}

    # -------------------------------------------------------------- reading
    def data_dir(self) -> str:
        """The JSON-lines dir a consumer tails (``run_stream`` included)."""
        return os.path.join(self.outbox_dir, "data")
