"""Incrementally-maintained SCD Type-2 dimension view of a snapshot table.

:func:`~fetchez_spark.operators.scd.scd2_history` answers "every interval
during which each key held each value" as a BATCH projection of a change
log; this view keeps that answer CURRENT against a live table -- each
refresh consumes only the unseen commit range and recomputes intervals
only for the keys that range touched, O(touched keys' history) per
refresh, never a log re-scan.  The fourth member of the incremental-view
family (matview / token index / conversation view), same CDC-consumer
contract via :class:`~fetchez_spark.operators._incview.IncrementalView`.

(Reference analog: fetchez keeps every fetched *version* of an entry side
by side and prefers the latest processed one,
/root/reference/src/fetchez/modules/multibeam.py:217-253 -- here that
version preference is maintained as a continuously-current queryable
history instead of recomputed per harvest.)

Why the store keeps EVERY event, not just version boundaries
------------------------------------------------------------

Suppressed upserts and no-op deletes are load-bearing under late
arrival: given ``e1(v=A), e2(v=A suppressed)``, a late ``e_l(v=B)``
landing between them turns e2 into a change point -- recomputing from
boundaries alone would lose the reopened ``A`` interval.  So the store
holds one row per EVENT, keyed ``(*source_key, evt_ts, evt_seq)``,
annotated in place with the interval it opens (``opens`` /
``valid_from`` / ``valid_to`` / ``is_current``); :meth:`history` is a
stored-column filter, no window at read time.  A refresh upserts the
touched keys' re-annotated rows; untouched keys keep their rows byte
for byte.  Exactness under ANY batching/ordering of the source log is
therefore structural -- every refresh recomputes the touched key from
its complete event set -- and pinned by tests that compare random batch
splits against the one-shot batch projection.

Scale shape
-----------

* refresh reads the commit range's raw change rows
  (``read_changes(include_internal=True)`` -- O(files added), never a
  table scan), broadcast-semi-joins the store down to the touched keys
  BEFORE its MoR reduction (``read(key_in=...)``), and runs the one
  ordered-within-key Exchange :func:`scd2_annotate` needs over
  O(touched history) rows;
* the store buckets on the leading source-key column, so "history of
  key K" is a manifest-level bucket-pruned point read;
* exactly-once: the upstream cursor + refresh ordinal ride the store's
  own manifest ``offsets``, committed atomically with the rows
  (window-only tokens -- snapshot numbers are non-monotone under
  multi-writer sources, see ConversationView).

Intra-batch collapse caveat: a ``dedup_on_write=True`` (CoW) source
consolidates each batch to per-key winners before the changelog is
written, so intermediate versions WITHIN one batch never reach any
downstream consumer, this view included.  MoR tables (the default)
retain every event.

Rename evolution: the store's columns keep the source's PHYSICAL
names (which never change -- same contract as ConversationView's
conv key), each refresh maps them through the source's CURRENT
``logical_names`` before selecting, and :meth:`history` /
:meth:`current` / :meth:`lookup` present the current logical names --
so ``rename_column`` on the source (key or tracked attribute, before
or after the view exists) flows through without corrupting stored
history and without any store-side metadata commits.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fetchez_spark.operators._incview import (
    ROOT_SNAPSHOT,
    IncrementalView,
    ord_ts_lit,
)
from fetchez_spark.operators.scd import scd2_annotate

_ANN_COLS = ["opens", "valid_from", "valid_to", "is_current"]
# names the store claims for itself: event identity/op, the annotation
# columns, the store's own LWW pair, and the merge envelope
_RESERVED = {
    "evt_ts", "evt_seq", "evt_op", "ts", "seq", "op", "src_partition",
    *_ANN_COLS,
}


class SCD2View(IncrementalView):
    """See module docstring.

    ``attrs=None`` (default) tracks every source payload column except
    the key and ``ts``, re-resolved at each refresh -- additive source
    schema evolution flows through (pre-evolution events compare the new
    column as null, which is exactly what they carried).  Pass an
    explicit list to pin the tracked set.
    """

    def __init__(
        self,
        store_dir: str,
        source,
        attrs: list[str] | None = None,
        num_buckets: int = 16,
        suppress_unchanged: bool = True,
    ) -> None:
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        if getattr(source, "merge_mode", "lww") != "lww":
            raise ValueError(
                "SCD2View requires a full-row (merge_mode='lww') source: "
                "partial-update tables ship sparse per-column events, for "
                "which whole-row version intervals are not defined"
            )
        self.source = source
        # PHYSICAL key names (manifest "key"): they never change, so the
        # store's own key/columns anchor to them; refreshes map through
        # the source's current logical_names before selecting
        self.src_key = list(source.key)
        self.attrs = list(attrs) if attrs is not None else None
        if self.attrs is not None:
            # pinned attrs arrive as CURRENT logical names; resolve to the
            # stable physical identity once, here
            m0 = source.manifest()
            lmap0 = m0.get("logical_names") or {}
            from pyspark.sql import types as T
            from fetchez_spark.sinks.local_snapshot import _is_internal_name

            physicals = [
                f.name
                for f in T.StructType.fromJson(m0["schema"]).fields
                if not _is_internal_name(f.name)
            ]
            logical_now = {lmap0.get(p, p): p for p in physicals}
            # an attr the source doesn't have YET is a future additive
            # column: its physical name is the name itself
            self._attrs_physical: list[str] | None = [
                logical_now.get(a, a) for a in self.attrs
            ]
            clash = sorted(set(self._attrs_physical) & _RESERVED)
            if clash:
                raise ValueError(
                    f"attrs {clash} collide with the SCD-2 store's "
                    "reserved names; rename the source columns"
                )
        else:
            self._attrs_physical = None
        self.suppress_unchanged = bool(suppress_unchanged)
        self.store = LocalSnapshotSink(
            store_dir,
            num_buckets=num_buckets,
            key=[*self.src_key, "evt_ts", "evt_seq"],
            compact_every=64,
            # snapshot-numbered refresh ranges are non-monotone under
            # multi-writer sources: window-only exactly-once
            monotonic_tokens=False,
        )
        self._ensure_definition()

    # ------------------------------------------------------------- schema
    def _resolve_attrs(self, m: dict) -> list[str]:
        """Tracked attributes as PHYSICAL source names (the store's own
        column names): the pinned physical set, or -- with ``attrs=None``
        -- every non-internal payload field outside the key and ``ts``,
        re-resolved per refresh so additive evolution flows through."""
        if self._attrs_physical is not None:
            return list(self._attrs_physical)
        from pyspark.sql import types as T

        from fetchez_spark.sinks.local_snapshot import _is_internal_name

        schema = T.StructType.fromJson(m["schema"])
        skip = set(self.src_key) | {"ts"}
        out = [
            f.name
            for f in schema.fields
            if not _is_internal_name(f.name) and f.name not in skip
        ]
        clash = sorted(set(out) & _RESERVED)
        if clash:
            raise ValueError(
                f"source columns {clash} collide with the SCD-2 store's "
                "reserved names; pass attrs= excluding them or rename the "
                "source columns"
            )
        return out

    def _to_events(
        self, raw: DataFrame, attrs: list[str], lmap: dict[str, str]
    ) -> DataFrame:
        """Logical change rows -> the store's event shape (PHYSICAL
        column names: ``lmap`` maps each tracked physical name to the
        logical name the frame currently carries)."""
        from fetchez_spark.sinks.local_snapshot import (
            INTERNAL_DELETED,
            INTERNAL_SEQ,
        )

        return raw.select(
            *[F.col(lmap.get(p, p)).alias(p) for p in self.src_key],
            F.col("ts").alias("evt_ts"),
            F.col(INTERNAL_SEQ).cast("long").alias("evt_seq"),
            *[F.col(lmap.get(p, p)).alias(p) for p in attrs],
            F.when(F.col(INTERNAL_DELETED), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("evt_op"),
        )

    # ------------------------------------------------------------- refresh
    def _refresh(self, spark: SparkSession) -> dict[str, Any]:
        """Advance the view to the source's current snapshot: re-annotate
        the touched keys' full event history (stored events + the range's
        new ones) and upsert it in ONE atomic merge with the cursor."""
        frm = self.last_applied()
        to = self.source.current_snapshot_id
        if frm == to:
            return {"from": frm, "to": to, "skipped": True}
        m_to = self.source.manifest(to)
        lmap = m_to.get("logical_names") or {}
        attrs = self._resolve_attrs(m_to)
        if frm == ROOT_SNAPSHOT:
            # bootstrap: the WHOLE retained changelog (root is a real
            # manifest, so the incremental walk covers it); if early
            # history already expired, fall back to current state --
            # intervals then start at each surviving winner, which is
            # all the table still knows (same contract as any late CDC
            # subscriber)
            try:
                raw = self.source.read_changes(
                    spark, frm, to, include_internal=True
                )
            except (ValueError, FileNotFoundError):
                raw = self.source.read(
                    spark,
                    snapshot_id=to,
                    include_internal=True,
                    include_deleted=True,
                    logical=False,
                )
        else:
            raw = self.source.read_changes(spark, frm, to, include_internal=True)
        raw = self.source._to_logical(raw, m_to)
        new_evt = self._to_events(raw, attrs, lmap).localCheckpoint(eager=True)

        if frm == ROOT_SNAPSHOT:
            # first refresh: the store holds no events yet (the cursor
            # advances atomically with the first merge)
            allevt = new_evt
        else:
            touched = new_evt.select(*self.src_key).dropDuplicates()
            stored_cols = set(self.store.schema().names)
            prior = self.store.read(spark, key_in=touched).select(
                *self.src_key,
                "evt_ts",
                "evt_seq",
                *[c for c in attrs if c in stored_cols],
                "evt_op",
            )
            allevt = prior.unionByName(new_evt, allowMissingColumns=True)
        ann = scd2_annotate(
            allevt,
            key=self.src_key,
            attrs=attrs,
            order=["evt_ts", "evt_seq"],
            op_col="evt_op",
            suppress_unchanged=self.suppress_unchanged,
        )

        n_ord = self._refresh_ordinal()
        env = ann.select(
            F.lit("U").alias("op"),
            *self.src_key,
            "evt_ts",
            "evt_seq",
            *attrs,
            "evt_op",
            *_ANN_COLS,
            ord_ts_lit(n_ord).alias("ts"),
            F.lit(n_ord).cast("long").alias("seq"),
            F.pmod(F.hash(*self.src_key), F.lit(4)).cast("int").alias(
                "src_partition"
            ),
        )
        res = self.store.merge(
            env,
            batch_token=f"scd2-r{n_ord}",
            offsets={"upstream": to, "refresh_seq": n_ord},
        )
        return {
            "from": frm,
            "to": to,
            "snapshot_id": res.get("snapshot_id"),
            "skipped": bool(res.get("skipped")),
        }

    # -------------------------------------------------------------- reading
    def _present(self, df: DataFrame) -> DataFrame:
        """Store (physical-named) interval rows -> the user-facing
        projection under the source's CURRENT logical names."""
        attrs = [
            c
            for c in df.columns
            if c
            not in {*self.src_key, "evt_ts", "evt_seq", "evt_op", "ts", *_ANN_COLS}
        ]
        out = df.select(
            *self.src_key,
            *attrs,
            F.col("valid_from"),
            F.col("valid_to"),
            F.col("is_current"),
        )
        lmap = self.source.manifest().get("logical_names") or {}
        ren = {
            p: lmap[p]
            for p in [*self.src_key, *attrs]
            if p in lmap and lmap[p] != p
        }
        if not ren:
            return out
        clash = sorted(set(ren.values()) & {"valid_from", "valid_to", "is_current"})
        if clash:
            raise ValueError(
                f"source column(s) renamed to {clash} collide with the "
                "SCD-2 interval columns; rename them on the source"
            )
        return out.withColumnsRenamed(ren)

    def history(self, spark: SparkSession) -> DataFrame:
        """All version intervals: one row per (key, valid_from) with
        ``valid_to``/``is_current`` -- stored columns, no window at read.
        Key/attribute columns carry the source's CURRENT logical names."""
        return self._present(self.store.read(spark).filter(F.col("opens")))

    def current(self, spark: SparkSession) -> DataFrame:
        """The open version per key (the live dimension)."""
        return self.history(spark).filter(F.col("is_current"))

    def lookup(self, spark: SparkSession, key_value) -> DataFrame:
        """One key's version history -- manifest-level bucket pruning on
        the leading key column (the point-lookup path)."""
        return self._present(
            self.store.lookup(spark, key_value).filter(F.col("opens"))
        )

    # ----------------------------------------------------------- definition
    def _check_definition(self, ref) -> bool:
        """True if a persisted definition exists; LOUD if it names a
        different source (mixing two tables' events into one store would
        corrupt every touched key's history, so never silently adopt) or
        a different tracked-attribute set / suppression mode (the stored
        intervals were computed under the persisted definition -- a
        session silently reading them under another one would present
        history the store never computed)."""
        if not ref:
            return False
        import os

        d = self.store._resolve_blob(ref)
        if os.path.abspath(d["source_dir"]) != os.path.abspath(
            self.source.table_dir
        ):
            raise ValueError(
                f"{self.store.table_dir} is an SCD-2 store over "
                f"{d['source_dir']!r}, not {self.source.table_dir!r}; "
                "use SCD2View.load(store_dir) or a fresh store dir"
            )
        rec_phys = d.get("attrs_physical", d.get("attrs"))
        if rec_phys is not None or self._attrs_physical is not None:
            if rec_phys != self._attrs_physical:
                raise ValueError(
                    f"{self.store.table_dir} persists tracked attrs "
                    f"{rec_phys!r} (physical names); this session asked "
                    f"for {self._attrs_physical!r} -- reopen without "
                    "attrs= (or with the same set), or use a fresh store"
                )
        if bool(d.get("suppress_unchanged", True)) != self.suppress_unchanged:
            raise ValueError(
                f"{self.store.table_dir} persists suppress_unchanged="
                f"{d.get('suppress_unchanged', True)}; this session asked "
                f"for {self.suppress_unchanged} -- the stored intervals "
                "were computed under the persisted mode"
            )
        return True

    def _ensure_definition(self) -> None:
        sink = self.store
        if self._check_definition(sink.manifest().get("scd2_def")):
            return
        definition = {
            "source_dir": self.source.table_dir,
            "attrs": self.attrs,
            # the stable identity of a pinned set: physical
            # names survive source rename_column
            "attrs_physical": self._attrs_physical,
            "suppress_unchanged": self.suppress_unchanged,
        }
        sink._commit_metadata(
            lambda latest: None
            if self._check_definition(latest.get("scd2_def"))
            else (
                {"scd2_def": sink._pack_blob(definition)},
                {"scd2_def_updated": True},
            )
        )

    @classmethod
    def load(cls, store_dir: str) -> "SCD2View":
        """Reconstruct the view from the store dir alone via the persisted
        definition (written at construction)."""
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        store = LocalSnapshotSink(store_dir)
        ref = store.manifest().get("scd2_def")
        if not ref:
            raise KeyError(f"{store_dir} has no persisted SCD2 definition")
        d = store._resolve_blob(ref)
        source = LocalSnapshotSink(d["source_dir"])
        attrs = d.get("attrs_physical", d.get("attrs"))
        if attrs is not None:
            # the constructor takes CURRENT logical names; the persisted
            # set is physical, so map it forward across source renames
            lmap = source.manifest().get("logical_names") or {}
            attrs = [lmap.get(p, p) for p in attrs]
        return cls(
            store_dir,
            source,
            attrs=attrs,
            num_buckets=store.manifest()["num_buckets"],
            suppress_unchanged=d.get("suppress_unchanged", True),
        )
