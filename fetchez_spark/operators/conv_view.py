"""Incrementally-maintained conversation view over a transcript table.

The conversation-grain companion to ``MaterializedAggregate`` and
``TokenIndexView``: the source table holds the replayed transcript at the
TURN grain (keyed ``(conv_id, turn_idx)``); this view keeps the assembled
CONVERSATION grain — one row per conv_id with the ordered turns joined
into ``transcript``, ``n_turns`` and an md5 ``convo_fp`` — in step with
the source's typed change feed.

Assembly (an ordered ``collect_list``) is not an algebraic aggregate you
can subtract deltas from, so each refresh REASSEMBLES exactly the touched
conversations and nothing else:

* feed of the unseen snapshot range -> distinct touched conv ids
  (O(changes) rows);
* source re-read restricted to those conversations — bucket-pruned (the
  sink buckets hash the LEADING key column, i.e. conv_id) AND
  prefix-key-restricted via ``read(key_in=)``'s broadcast semi-join, so
  the LWW reduction shuffles O(touched convs' turns), never the table;
* one aggregate reassembles them; conversations whose every turn is gone
  tombstone out of the view.

The whole refresh is PINNED to one source snapshot (the ``to`` captured
from the commit pointer): the feed range ends at it, the bucket math uses
ITS manifest's ``num_buckets``, and the re-read passes ``snapshot_id=to``
— so a concurrent commit (or a maintenance ``rebucket``) landing
mid-refresh can never make the pruning disagree with the scan.

Cost per refresh is proportional to the changed conversations' sizes —
the right unit, since any single turn edit invalidates the whole
conversation's transcript.  The cursor rides the store's own manifest
``offsets`` (committed atomically with the rows), so replays after a
crash are idempotent.

The view is a durable object: the first refresh persists its definition
(source dir, separator, turn expression) into the store's catalog, and
:meth:`ConversationView.load` reconstructs it from the dir alone — the
CLI uses that, so a view built with a custom separator is never silently
refreshed under a different rendering (a conflicting explicit parameter
is a loud ``ValueError``).

(Reference analog: fetchez assembles per-entry results eagerly on the
driver each run, /root/reference/src/fetchez/core.py:1094-1137; here the
assembled state is a durable table maintained from CDC.)
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fetchez_spark.operators._incview import (
    IncrementalView,
    ord_ts_lit,
)

_CUSTOM_EXPR = "__custom_column__"


class ConversationView(IncrementalView):
    """See module docstring."""

    def __init__(
        self,
        store_dir: str,
        source,
        turn_expr: Column | str | None = None,
        sep: str | None = None,
        num_buckets: int = 16,
    ) -> None:
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
        from pyspark.sql import types as T

        if len(source.key) < 2:
            raise ValueError(
                "ConversationView needs a (conv, turn, ...) source key; "
                f"got {source.key}"
            )
        self.source = source
        # key names in the source manifest are PHYSICAL and never change;
        # refresh maps them to the current logical names before selecting
        self.conv_col = source.key[0]
        self.order_cols = list(source.key[1:])

        persisted = self._persisted_definition(store_dir)
        sep, turn_expr = self._reconcile_definition(persisted, sep, turn_expr)
        self.sep = sep
        if isinstance(turn_expr, str):
            self.turn_expr = F.expr(turn_expr)
            self._turn_expr_sql: str | None = turn_expr
        elif turn_expr is None:
            self.turn_expr = None
            self._turn_expr_sql = None
        else:
            self.turn_expr = turn_expr
            self._turn_expr_sql = _CUSTOM_EXPR

        conv_type = next(
            (f.dataType for f in self._source_schema().fields if f.name == self.conv_col),
            T.StringType(),
        )
        store_schema = T.StructType(
            [
                T.StructField(self.conv_col, conv_type),
                T.StructField("n_turns", T.LongType()),
                T.StructField("transcript", T.StringType()),
                T.StructField("convo_fp", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        self.store = LocalSnapshotSink(
            store_dir,
            num_buckets=num_buckets,
            key=[self.conv_col],
            base_schema=store_schema,
            compact_every=64,
            # refresh tokens embed the SOURCE snapshot number, and under
            # multi-writer sources sid claims can commit out of numeric
            # order (the chain, not the numbering, defines history) -- a
            # later range can carry a LOWER number, which the monotone
            # token-sequence watermark would silently drop, wedging the
            # cursor.  The committed-token window alone gives the replay
            # idempotence a view cursor needs.
            monotonic_tokens=False,
        )

    def _source_schema(self):
        from pyspark.sql import types as T

        return T.StructType.fromJson(self.source.manifest()["schema"])

    # ----------------------------------------------------------- definition
    @staticmethod
    def _persisted_definition(store_dir: str) -> dict | None:
        import os

        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        if not os.path.exists(os.path.join(store_dir, "VERSION")):
            return None
        probe = LocalSnapshotSink(store_dir)
        ref = probe.manifest().get("convview_def")
        return probe._resolve_blob(ref) if ref else None

    @staticmethod
    def _reconcile_definition(persisted: dict | None, sep, turn_expr):
        """Explicit params beat nothing, persisted beats defaults, and an
        explicit param CONFLICTING with the persisted definition is a loud
        error — never two renderings in one store."""
        if persisted:
            psep = persisted.get("sep", "\x1f")
            pexpr = persisted.get("turn_expr")
            if sep is not None and sep != psep:
                raise ValueError(
                    f"view was built with sep={psep!r}; refusing sep={sep!r} "
                    "(mixed renderings would corrupt convo_fp comparability)"
                )
            if (
                turn_expr is not None
                and isinstance(turn_expr, str)
                and pexpr not in (None, _CUSTOM_EXPR)
                and turn_expr != pexpr
            ):
                raise ValueError(
                    f"view was built with turn_expr={pexpr!r}; refusing "
                    f"{turn_expr!r}"
                )
            sep = psep
            if turn_expr is None and pexpr == _CUSTOM_EXPR:
                raise ValueError(
                    "view was built with a non-SQL turn_expr Column; pass "
                    "the same expression (or rebuild with a SQL string)"
                )
            if turn_expr is None and pexpr is not None:
                turn_expr = pexpr
        return ("\x1f" if sep is None else sep), turn_expr

    def _definition(self) -> dict[str, Any]:
        return {
            "source_dir": self.source.table_dir,
            "sep": self.sep,
            "turn_expr": self._turn_expr_sql,
            "num_buckets": self.store.manifest()["num_buckets"],
        }

    def _ensure_definition(self) -> None:
        """Persist the view definition INTO the store's catalog (one
        metadata-only commit whose blob every later merge carries forward)
        so a fresh session — or the CLI — reconstructs the view from the
        dir alone (:meth:`load`).  Same shape as the matview catalog."""
        sink = self.store
        if sink.manifest().get("convview_def"):
            return
        sink._commit_metadata(
            lambda latest: None
            if latest.get("convview_def")
            else (
                {"convview_def": sink._pack_blob(self._definition())},
                {"convview_def_updated": True},
            )
        )

    @classmethod
    def load(cls, store_dir: str) -> "ConversationView":
        """Reconstruct a view from its store dir alone via the persisted
        definition (written by the first refresh)."""
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        d = cls._persisted_definition(store_dir)
        if d is None:
            raise KeyError(f"{store_dir} has no persisted convview definition")
        if d.get("turn_expr") == _CUSTOM_EXPR:
            raise ValueError(
                f"{store_dir} was built with a non-SQL turn_expr Column; "
                "reconstruct it in code with the same expression (pass "
                "turn_expr as a SQL string to make the view loadable)"
            )
        return cls(
            store_dir,
            LocalSnapshotSink(d["source_dir"]),
            turn_expr=d.get("turn_expr"),
            sep=d.get("sep"),
            num_buckets=int(d.get("num_buckets", 16)),
        )

    # ------------------------------------------------------------- refresh
    def _refresh(self, spark: SparkSession) -> dict[str, Any]:
        """Advance the view to the source's current snapshot: reassemble
        ONLY the conversations the unseen range touched, in one atomic
        merge (upserts + tombstones + cursor)."""
        from fetchez_spark.functions.conversations import assemble_conversations

        frm = self.last_applied()
        to = self.source.current_snapshot_id
        if frm == to:
            return {"from": frm, "to": to, "skipped": True}
        # everything below is pinned to `to`: manifest, feed range, re-read
        m_to = self.source.manifest(to)
        lmap = m_to.get("logical_names") or {}
        conv = lmap.get(self.conv_col, self.conv_col)
        order = [lmap.get(c, c) for c in self.order_cols]

        feed = self.source.change_feed(spark, frm, to)
        touched = feed.select(conv).distinct().localCheckpoint(eager=True)

        # bucket pruning: buckets hash the leading key column (= conv_col),
        # so the touched convs' buckets are exact; the distinct-bucket
        # collect is bounded by num_buckets, not by the change count
        nb = m_to["num_buckets"]
        bkts = [
            r[0]
            for r in touched.select(
                F.pmod(F.hash(F.col(conv)), F.lit(nb)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        ]
        state = self.source.read(
            spark, snapshot_id=to, buckets=bkts, key_in=touched
        )
        assembled = assemble_conversations(
            state, conv, order, self.turn_expr, self.sep
        )
        if conv != self.conv_col:
            # the store's key keeps the construction-time physical name
            assembled = assembled.withColumnRenamed(conv, self.conv_col)
            touched = touched.withColumnRenamed(conv, self.conv_col)

        # LWW/token basis: the per-refresh ordinal, NOT the snapshot
        # number (non-monotone under multi-writer sources)
        n_ord = self._refresh_ordinal()
        ts = ord_ts_lit(n_ord)

        def _env(df: DataFrame, op: str) -> DataFrame:
            cols = [F.lit(op).alias("op"), F.col(self.conv_col)]
            if op == "U":
                cols += [F.col("n_turns"), F.col("transcript"), F.col("convo_fp")]
            else:
                cols += [
                    F.lit(None).cast("long").alias("n_turns"),
                    F.lit(None).cast("string").alias("transcript"),
                    F.lit(None).cast("string").alias("convo_fp"),
                ]
            cols += [
                ts.alias("ts"),
                F.lit(n_ord).cast("long").alias("seq"),
                F.pmod(F.hash(F.col(self.conv_col)), F.lit(4)).cast("int").alias(
                    "src_partition"
                ),
            ]
            return df.select(*cols)

        # a touched conversation with no surviving turns leaves the view
        gone = touched.join(
            assembled.select(self.conv_col), self.conv_col, "left_anti"
        )
        env = _env(assembled, "U").unionByName(_env(gone, "D"))
        res = self.store.merge(
            env,
            batch_token=f"convview-r{n_ord}",
            offsets={"upstream": to, "refresh_seq": n_ord},
        )
        self._ensure_definition()
        return {
            "from": frm,
            "to": to,
            "snapshot_id": res.get("snapshot_id"),
            "touched_buckets": sorted(bkts),
        }

    # -------------------------------------------------------------- reading
    def read(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        """Conversation-grain state (live, or AS-OF a view-store snapshot)."""
        return self.store.read(spark, snapshot_id=snapshot_id).select(
            self.conv_col, "n_turns", "transcript", "convo_fp"
        )

    def lookup(self, spark: SparkSession, conv_id) -> DataFrame:
        """One conversation: bucket and key-stats file pruning on the
        store; footer blooms and dictionaries skip row groups."""
        return self.store.lookup(spark, conv_id).select(
            self.conv_col, "n_turns", "transcript", "convo_fp"
        )
