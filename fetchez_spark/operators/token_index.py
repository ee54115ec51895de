"""Incrementally-maintained inverted token index over a snapshot table.

The search-side companion to the matview operator: where
``MaterializedAggregate`` keeps a grouped aggregate in step with a
table's typed change feed, ``TokenIndexView`` keeps an INVERTED INDEX
(token -> document keys) in step with it.  Each refresh consumes only
the feed of the unseen snapshot range -- O(changed docs x tokens), never
a corpus re-scan:

* insert  -> upsert a posting per distinct token of the new text;
* update  -> upsert the new text's postings, tombstone postings whose
  token appears in the PRE-IMAGE text but not the new one;
* delete  -> tombstone every posting of the pre-image text.

The postings store is an ordinary :class:`LocalSnapshotSink` keyed
``(token, *source_key)``.  Buckets hash the LEADING key column, so a
token lookup prunes to one bucket at the manifest level -- the same
point-lookup path the primary table uses, O(index/num_buckets) IO.
The refresh cursor rides the store's own manifest ``offsets`` (merged
atomically with the postings commit), so a crash between source commit
and refresh just replays the range idempotently (batch tokens are the
source snapshot ordinal).

(Reference analog: fred's search_index over harvested records,
/root/reference/src/fetchez/fred.py:256-356 -- maintained here
incrementally from CDC instead of rebuilt per harvest.)
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fetchez_spark.operators._incview import (
    IncrementalView,
    ord_ts_lit,
)


def _tokens(col):
    return F.array_distinct(
        F.filter(F.split(col, " "), lambda t: t != F.lit(""))
    )


class TokenIndexView(IncrementalView):
    """See module docstring."""

    _DEF_KEY = "tokidx_def"

    def __init__(
        self,
        store_dir: str,
        source,
        text_col: str | None = None,
        num_buckets: int = 16,
    ) -> None:
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        self.source = source
        persisted = self._persisted_definition(store_dir)
        if persisted:
            ptext = persisted.get("text_col", "text")
            if text_col is not None and text_col != ptext:
                raise ValueError(
                    f"index was built over column {ptext!r}; refusing "
                    f"text_col={text_col!r} (mixed sources would corrupt "
                    "the postings)"
                )
            text_col = ptext
        self.text_col = text_col or "text"
        self.id_cols = list(source.key)
        self.store = LocalSnapshotSink(
            store_dir,
            num_buckets=num_buckets,
            key=["token", *self.id_cols],
            compact_every=64,
            # snapshot-numbered refresh tokens are non-monotone under
            # multi-writer sources (see ConversationView): window-only
            # exactly-once, never the sequence watermark
            monotonic_tokens=False,
        )

    # ------------------------------------------------------------- refresh
    def _refresh(self, spark: SparkSession) -> dict[str, Any]:
        """Advance the index to the source's current snapshot by applying
        the typed change feed of the unseen range.  One atomic merge:
        postings upserts + tombstones + the cursor commit together."""
        frm = self.last_applied()
        to = self.source.current_snapshot_id
        if frm == to:
            return {"from": frm, "to": to, "skipped": True}
        feed = self.source.change_feed(
            spark, frm, to, include_pre_image=True
        ).localCheckpoint(eager=True)
        # LWW/token basis: the per-refresh ordinal, NOT the snapshot
        # number (non-monotone under multi-writer sources)
        n_ord = self._refresh_ordinal()
        ts = ord_ts_lit(n_ord)
        ids = [F.col(c) for c in self.id_cols]

        post_t = feed.filter(
            F.col("_change_type").isin("insert", "update")
            & F.col(self.text_col).isNotNull()
        ).select(*ids, F.explode(_tokens(F.col(self.text_col))).alias("token"))
        pre_t = feed.filter(
            F.col("_change_type").isin("update", "delete")
            & F.col(f"_pre_image.{self.text_col}").isNotNull()
        ).select(
            *ids,
            F.explode(_tokens(F.col(f"_pre_image.{self.text_col}"))).alias("token"),
        )
        # tombstone only tokens the doc LOST: a token in both pre and post
        # text just keeps its posting (the upsert wins unambiguously)
        gone_t = pre_t.join(post_t, on=[*self.id_cols, "token"], how="left_anti")

        def _env(df: DataFrame, op: str) -> DataFrame:
            return df.select(
                F.lit(op).alias("op"),
                "token",
                *ids,
                ts.alias("ts"),
                F.lit(n_ord).cast("long").alias("seq"),
                F.pmod(F.hash("token"), F.lit(4)).cast("int").alias("src_partition"),
            )

        env = _env(post_t, "U").unionByName(_env(gone_t, "D"))
        res = self.store.merge(
            env,
            batch_token=f"tokidx-r{n_ord}",
            offsets={"upstream": to, "refresh_seq": n_ord},
        )
        self._ensure_definition()
        return {"from": frm, "to": to, "snapshot_id": res.get("snapshot_id")}

    # ----------------------------------------------------------- definition
    @classmethod
    def _persisted_definition(cls, store_dir: str) -> dict | None:
        import os

        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        if not os.path.exists(os.path.join(store_dir, "VERSION")):
            return None
        probe = LocalSnapshotSink(store_dir)
        ref = probe.manifest().get(cls._DEF_KEY)
        return probe._resolve_blob(ref) if ref else None

    def _ensure_definition(self) -> None:
        """Persist the index definition INTO the store's catalog (one
        metadata-only commit whose blob every later merge carries
        forward) so a fresh session -- or a recipe daemon -- reconstructs
        the view from the dir alone (:meth:`load`).  Same shape as the
        other incremental views' catalogs."""
        sink = self.store
        if sink.manifest().get(self._DEF_KEY):
            return
        sink._commit_metadata(
            lambda latest: None
            if latest.get(self._DEF_KEY)
            else (
                {
                    self._DEF_KEY: sink._pack_blob(
                        {
                            "source_dir": self.source.table_dir,
                            "text_col": self.text_col,
                            "num_buckets": latest["num_buckets"],
                        }
                    )
                },
                {"tokidx_def_updated": True},
            )
        )

    @classmethod
    def load(cls, store_dir: str) -> "TokenIndexView":
        """Reconstruct an index from its store dir alone via the
        persisted definition (written by the first refresh)."""
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        d = cls._persisted_definition(store_dir)
        if d is None:
            raise KeyError(f"{store_dir} has no persisted tokidx definition")
        return cls(
            store_dir,
            LocalSnapshotSink(d["source_dir"]),
            num_buckets=int(d.get("num_buckets", 16)),
        )

    # -------------------------------------------------------------- reading
    def postings(self, spark: SparkSession) -> DataFrame:
        """Live (token, *source_key) postings."""
        return self.store.read(spark).select("token", *self.id_cols)

    def lookup(self, spark: SparkSession, token: str) -> DataFrame:
        """Documents containing ``token``: manifest-level bucket pruning on
        the leading key -- one bucket's files reach the scan."""
        return self.store.lookup(spark, token).select("token", *self.id_cols)
