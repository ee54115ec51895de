"""Incrementally-maintained IVF vector index over a snapshot table.

The EMBEDDING-modality companion to ``TokenIndexView``: where the token
index keeps an inverted text index (token -> document keys) in step with
a table's typed change feed, ``VectorIndexView`` keeps an INVERTED-FILE
ANN index (centroid cell -> document keys + vectors) in step with it.
Each refresh consumes only the feed of the unseen snapshot range --
O(changed rows), never a corpus re-scan or an index rebuild:

* insert  -> upsert a posting at the new vector's nearest-centroid cell;
* update  -> upsert the new posting; if the vector MOVED cells, tombstone
  the old posting (old cell from the PRE-IMAGE vector -- pure compute,
  no store lookup);
* delete  -> tombstone the pre-image vector's posting.

The postings store is an ordinary :class:`LocalSnapshotSink` keyed
``(cell, *source_key)`` and carries the vector itself, so a probe is
self-contained: buckets hash the LEADING key column (the cell), so
``search`` prunes to the ``nprobe`` query cells' buckets at the manifest
level -- the IVF analog of the sink's point-lookup path, O(index *
nprobe / k) IO -- and scores candidates with the same JVM-side cosine as
the brute-force path.  The refresh cursor rides the store's own manifest
``offsets`` (merged atomically with the postings commit), so a crash
between source commit and refresh just replays the range idempotently.

Cell assignment is the ENGINE-PORTABLE variant of
:meth:`fetchez_spark.functions.similarity.IVFIndex.assign`: argmax over
per-centroid cosines ROUNDED to 6 decimals with a lowest-cell tie-break.
Rounding makes the assignment reproducible across engines (the DuckDB
oracle recomputes it declaratively from the same inlined centroids), at
the cost of a deterministic-either-way tie rule for centroids closer
than 1e-6 in cosine.  ``k <= 16`` assigns with a pure codegen expression
(zero shuffle); larger k broadcasts the centroid table and reduces with
one hash aggregate over the feed's keys -- both paths scale with the
CHANGE volume, not the corpus.

The view is a durable object: the first refresh persists its definition
(source dir, vector column, the full centroid payload) into the store's
catalog, and :meth:`VectorIndexView.load` reconstructs it from the dir
alone -- a conflicting explicit index is a loud ``ValueError`` (two
centroid sets in one store would corrupt every posting's cell).

(Reference analog: fred's search_index over harvested records,
/root/reference/src/fetchez/fred.py:256-356 -- lifted to the embedding
modality and maintained incrementally from CDC instead of rebuilt per
harvest.)
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fetchez_spark.functions.similarity import IVFIndex, cosine
from fetchez_spark.operators._incview import (
    IncrementalView,
    ord_ts_lit,
)

_DEF_KEY = "vecidx_def"


class VectorIndexView(IncrementalView):
    """See module docstring."""

    def __init__(
        self,
        store_dir: str,
        source,
        index: IVFIndex | None = None,
        vec_col: str | None = None,
        num_buckets: int = 16,
    ) -> None:
        from pyspark.sql import types as T

        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        self.source = source
        self.id_cols = list(source.key)

        persisted = self._persisted_definition(store_dir)
        index, vec_col = self._reconcile_definition(persisted, index, vec_col)
        if index is None or index.centroids is None:
            raise ValueError(
                "VectorIndexView needs a FITTED IVFIndex (or a store with a "
                "persisted definition): fit()/set centroids before building"
            )
        self.index = index
        self.vec_col = vec_col

        src_schema = T.StructType.fromJson(source.manifest()["schema"])
        fld = {f.name: f.dataType for f in src_schema.fields}
        if self.vec_col not in fld:
            raise ValueError(
                f"source has no column {self.vec_col!r} (schema: {sorted(fld)})"
            )
        self._vec_type = fld[self.vec_col]
        store_schema = T.StructType(
            [
                T.StructField("cell", T.IntegerType()),
                *[T.StructField(c, fld[c]) for c in self.id_cols],
                T.StructField(self.vec_col, self._vec_type),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        self.store = LocalSnapshotSink(
            store_dir,
            num_buckets=num_buckets,
            key=["cell", *self.id_cols],
            base_schema=store_schema,
            compact_every=64,
            # snapshot-numbered refresh tokens are non-monotone under
            # multi-writer sources (see ConversationView): window-only
            # exactly-once, never the sequence watermark
            monotonic_tokens=False,
        )

    # ----------------------------------------------------------- definition
    @staticmethod
    def _persisted_definition(store_dir: str) -> dict | None:
        import os

        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        if not os.path.exists(os.path.join(store_dir, "VERSION")):
            return None
        probe = LocalSnapshotSink(store_dir)
        ref = probe.manifest().get(_DEF_KEY)
        return probe._resolve_blob(ref) if ref else None

    @staticmethod
    def _reconcile_definition(persisted: dict | None, index, vec_col):
        """Explicit params beat nothing, persisted beats defaults, and an
        explicit param CONFLICTING with the persisted definition is a loud
        error -- two centroid sets in one store would corrupt every
        posting's cell assignment."""
        if persisted:
            pidx = IVFIndex._from_payload(persisted["index"])
            pvec = persisted.get("vec_col", "embedding")
            if index is not None and index._payload() != pidx._payload():
                raise ValueError(
                    "store was built with a different IVF index (k="
                    f"{pidx.k}, seed={pidx.seed}); refusing the conflicting "
                    "centroids -- rebuild the view to re-index"
                )
            if vec_col is not None and vec_col != pvec:
                raise ValueError(
                    f"store indexes column {pvec!r}; refusing vec_col={vec_col!r}"
                )
            return pidx, pvec
        return index, (vec_col or "embedding")

    def _definition(self) -> dict[str, Any]:
        return {
            "source_dir": self.source.table_dir,
            "vec_col": self.vec_col,
            "num_buckets": self.store.manifest()["num_buckets"],
            "index": self.index._payload(),
        }

    def _ensure_definition(self) -> None:
        """Persist the view definition INTO the store's catalog (one
        metadata-only commit whose blob every later merge carries forward)
        so a fresh session -- or the CLI -- reconstructs the view from the
        dir alone (:meth:`load`).  Same shape as the matview catalog."""
        sink = self.store
        if sink.manifest().get(_DEF_KEY):
            return
        sink._commit_metadata(
            lambda latest: None
            if latest.get(_DEF_KEY)
            else (
                {_DEF_KEY: sink._pack_blob(self._definition())},
                {"vecidx_def_updated": True},
            )
        )

    @classmethod
    def load(cls, store_dir: str) -> "VectorIndexView":
        """Reconstruct a view from its store dir alone via the persisted
        definition (written by the first refresh)."""
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        d = cls._persisted_definition(store_dir)
        if d is None:
            raise KeyError(f"{store_dir} has no persisted vecidx definition")
        return cls(
            store_dir,
            LocalSnapshotSink(d["source_dir"]),
            num_buckets=int(d.get("num_buckets", 16)),
        )

    # ----------------------------------------------------------- assignment
    def _cell_of(self, vec: Column) -> Column:
        """Engine-portable nearest-centroid cell (argmax of rounded
        cosine, lowest cell on ties) -- shared with :func:`ivf_ann_join`
        via :func:`fetchez_spark.functions.similarity.ivf_cell`."""
        from fetchez_spark.functions.similarity import ivf_cell

        return ivf_cell(vec, self.index.centroids)

    def _assign(self, df: DataFrame, vec: Column, ids: list[str]) -> DataFrame:
        """``df`` + a ``cell`` column for ``vec`` (``ids`` = the feed's
        current key column names).  k <= EXPR_PATH_MAX_K uses the codegen
        expression; larger k broadcasts the centroid table and reduces
        with max(struct(sim, -cell)) per feed key -- one hash aggregate
        over the CHANGE volume (feed rows are unique per source key by
        construction)."""
        idx = self.index
        if len(idx.centroids) <= IVFIndex.EXPR_PATH_MAX_K:
            return df.withColumn("cell", self._cell_of(vec))
        spark = df.sparkSession
        cents = spark.createDataFrame(
            [(i, c) for i, c in enumerate(idx.centroids)], ["_cell_id", "_cent"]
        )
        scored = df.withColumn("_v", vec).crossJoin(F.broadcast(cents))
        won = scored.groupBy(*[F.col(c) for c in ids]).agg(
            F.max(
                F.struct(
                    F.round(cosine(F.col("_v"), F.col("_cent")), 6).alias("_sim"),
                    (-F.col("_cell_id")).alias("_negcell"),
                )
            ).alias("_w")
        )
        picked = won.select(
            *ids, (-F.col("_w._negcell")).cast("int").alias("cell")
        )
        return df.join(picked, on=ids)

    # ------------------------------------------------------------- refresh
    def _refresh(self, spark: SparkSession) -> dict[str, Any]:
        """Advance the index to the source's current snapshot by applying
        the typed change feed of the unseen range.  One atomic merge:
        posting upserts + moved/deleted tombstones + the cursor commit."""
        frm = self.last_applied()
        to = self.source.current_snapshot_id
        if frm == to:
            return {"from": frm, "to": to, "skipped": True}
        # column LOGICAL names can drift (rename_column); the feed speaks
        # logical, the construction-time names here are physical
        lmap = self.source.manifest(to).get("logical_names") or {}
        vec = lmap.get(self.vec_col, self.vec_col)
        feed = self.source.change_feed(
            spark, frm, to, include_pre_image=True
        ).localCheckpoint(eager=True)
        # LWW/token basis: the per-refresh ordinal, NOT the snapshot
        # number (non-monotone under multi-writer sources)
        n_ord = self._refresh_ordinal()
        ts = ord_ts_lit(n_ord)
        lids = [lmap.get(c, c) for c in self.id_cols]  # feed (logical) names
        # select back to the store's construction-time physical key names
        phys = [F.col(l).alias(p) for l, p in zip(lids, self.id_cols)]

        post = self._assign(
            feed.filter(
                F.col("_change_type").isin("insert", "update")
                & F.col(vec).isNotNull()
            ),
            F.col(vec),
            lids,
        ).select("cell", *phys, F.col(vec).alias(self.vec_col))
        pre = self._assign(
            feed.filter(
                F.col("_change_type").isin("update", "delete")
                & F.col(f"_pre_image.{vec}").isNotNull()
            ),
            F.col(f"_pre_image.{vec}"),
            lids,
        ).select("cell", *phys)
        # tombstone only postings the row LOST: a vector that stayed in
        # its cell just keeps its posting (the upsert wins unambiguously)
        gone = pre.join(post, on=["cell", *self.id_cols], how="left_anti")

        def _env(df: DataFrame, op: str) -> DataFrame:
            v = (
                F.col(self.vec_col)
                if op == "U"
                else F.lit(None).cast(self._vec_type)
            )
            return df.select(
                F.lit(op).alias("op"),
                "cell",
                *[F.col(c) for c in self.id_cols],
                v.alias(self.vec_col),
                ts.alias("ts"),
                F.lit(n_ord).cast("long").alias("seq"),
                F.pmod(F.col("cell"), F.lit(4)).cast("int").alias("src_partition"),
            )

        env = _env(post, "U").unionByName(_env(gone, "D"))
        res = self.store.merge(
            env,
            batch_token=f"vecidx-r{n_ord}",
            offsets={"upstream": to, "refresh_seq": n_ord},
        )
        self._ensure_definition()
        return {"from": frm, "to": to, "snapshot_id": res.get("snapshot_id")}

    # -------------------------------------------------------------- reading
    def postings(self, spark: SparkSession) -> DataFrame:
        """Live (cell, *source_key) postings."""
        return self.store.read(spark).select("cell", *self.id_cols)

    def search(
        self,
        spark: SparkSession,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 2,
    ) -> DataFrame:
        """ANN top-k: score ONLY the ``nprobe`` nearest cells' postings.
        The store buckets hash the leading key (the cell), so the read
        prunes to the probe cells' buckets at the manifest level; the
        probed vectors never join back to the source -- postings carry
        them.  Returns (*source_key, cos_sim) ordered (cos desc, ids)."""
        cells = self.index._query_cells(query_vec, nprobe)
        m = self.store.manifest()
        nb = m["num_buckets"]
        # cast to the store's real key type BEFORE hashing: Murmur3 is
        # width-sensitive (hash(int 3) != hash(long 3)), so an uncast
        # literal would prune to the wrong buckets
        cells_df = spark.createDataFrame(
            [(int(c),) for c in cells], "cell long"
        ).select(F.col("cell").cast("int"))
        # bucket pruning: buckets hash the leading key column (= cell), so
        # the probe cells' buckets are exact; nprobe rows -> tiny job
        bkts = [
            r[0]
            for r in cells_df.select(
                F.pmod(F.hash(F.col("cell")), F.lit(nb)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        ]
        state = self.store.read(spark, buckets=bkts, key_in=cells_df)
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        scored = state.select(
            *[F.col(c) for c in self.id_cols],
            F.round(cosine(F.col(self.vec_col), q), 6).alias("cos_sim"),
        )
        return scored.orderBy(
            F.desc("cos_sim"), *[F.asc(c) for c in self.id_cols]
        ).limit(k)
