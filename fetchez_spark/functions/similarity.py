"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k, dot products computed JVM-side with
``F.zip_with`` + ``F.aggregate`` (codegen, no Python).  Scale path:
random-hyperplane LSH bucketing -- each vector hashes to a small bucket
key; candidate search is an equi-join on the bucket, turning O(n*q) into
O(candidate mass).  An IVF variant would swap the hash for a learned
centroid assignment; the plumbing (bucket column + equi-join) is identical.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_sq(a: Column) -> Column:
    return F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(l2_norm_sq(a)) * F.sqrt(l2_norm_sq(b)))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Brute-force top-k by cosine to a constant query vector.

    One narrow map + one global top-k (TakeOrderedAndProject -- no full
    sort, no shuffle of the table)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def _random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (no numpy on executors)."""
    import random

    rnd = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rnd.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_bucket(vec_col: Column, dim: int, n_planes: int = 8, seed: int = 42) -> Column:
    """Random-hyperplane LSH: sign bits of <v, plane_i> packed into an int."""
    planes = _random_hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        # disjoint powers of two, so + composes the bitmask (Column.__or__
        # is logical OR in PySpark, not bitwise)
        bit = F.when(dot(vec_col, plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    dim: int | None = None,
    n_planes: int = 8,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: only score vectors in the query's LSH bucket(s).

    ``probes > 1`` enables MULTI-PROBE LSH (Lv et al., VLDB'07 shape):
    besides the query's own bucket, probe the buckets reached by flipping
    the sign bits whose hyperplane margins |<q, plane>| are smallest --
    the planes the query sits closest to, hence the buckets its true
    neighbors most likely fell into.  Recall rises steeply with a few
    extra probes while cost stays ~probes/2^n_planes of the table (vs
    doubling recall by halving n_planes, which doubles EVERY bucket).

    At cluster scale the bucket column is precomputed/partitioned-on, so
    the probe is a partition-pruned scan instead of a full pass."""
    dim = dim or len(query_vec)
    planes = _random_hyperplanes(dim, n_planes)
    dots = [sum(a * b for a, b in zip(query_vec, p)) for p in planes]
    qbits = 0
    for i, d in enumerate(dots):
        if d > 0:
            qbits |= 1 << i
    # probe buckets: the query's, then single-bit flips of the
    # smallest-margin planes (closest decision boundaries first)
    by_margin = sorted(range(len(dots)), key=lambda i: abs(dots[i]))
    buckets = [qbits] + [qbits ^ (1 << i) for i in by_margin[: max(probes - 1, 0)]]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    bucketed = df.withColumn("_bucket", lsh_bucket(F.col(vec_col), dim, n_planes))
    candidates = (
        bucketed.filter(F.col("_bucket") == F.lit(qbits))
        if len(buckets) == 1
        else bucketed.filter(F.col("_bucket").isin(buckets))
    )
    scored = candidates.select(
        F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim")
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


class IVFIndex:
    """Inverted-file (IVF) ANN index: KMeans centroids partition the
    vector space; a probe scores only the ``nprobe`` nearest cells.

    Scale shape: build is one MLlib KMeans fit (sampled); assignment adds
    a ``_cell`` column the table is partitioned/clustered on, so a probe
    is a partition-pruned scan of nprobe/k of the data -- the IVF analog
    of the sink's bucket pruning.  Query-side math is the same JVM-side
    cosine as the brute-force path.
    """

    def __init__(self, k: int = 16, seed: int = 42, vec_col: str = "embedding") -> None:
        self.k = k
        self.seed = seed
        self.vec_col = vec_col
        self.centroids: list[list[float]] | None = None

    def fit(self, df: DataFrame) -> "IVFIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        vecs = df.select(
            array_to_vector(F.col(self.vec_col).cast("array<double>")).alias("features")
        )
        model = KMeans(k=self.k, seed=self.seed, maxIter=10).fit(vecs)
        self.centroids = [list(map(float, c)) for c in model.clusterCenters()]
        return self

    # -------------------------------------------------------- persistence
    # A probe-serving flow must not refit per session: the centroids (the
    # entire learned state -- small: k * dim floats) round-trip through a
    # JSON sidecar, so `assign`/`topk` in a fresh session reproduce cell
    # assignments bit-for-bit.  `index_version` guards format drift.
    INDEX_VERSION = 1

    def save(self, path: str) -> str:
        import json
        import os
        import uuid

        payload = self._payload()
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, path)
        return path

    @classmethod
    def load(cls, path: str) -> "IVFIndex":
        import json

        with open(path) as f:
            payload = json.load(f)
        return cls._from_payload(payload)

    @classmethod
    def _from_payload(cls, payload: dict) -> "IVFIndex":
        if payload.get("index_version") != cls.INDEX_VERSION:
            raise ValueError(
                f"unsupported index_version {payload.get('index_version')!r}"
            )
        idx = cls(k=payload["k"], seed=payload["seed"], vec_col=payload["vec_col"])
        idx.centroids = [list(map(float, c)) for c in payload["centroids"]]
        return idx

    def _payload(self) -> dict:
        if self.centroids is None:
            raise ValueError("fit() before save")
        return {
            "index_version": self.INDEX_VERSION,
            "kind": "ivf-cosine",
            "k": self.k,
            "seed": self.seed,
            "vec_col": self.vec_col,
            "centroids": self.centroids,
        }

    def save_to_table(self, sink) -> str:
        """Persist the index INTO the table's catalog: a content-addressed
        blob + an ``ann_index`` manifest key, committed like any other
        metadata-only snapshot (under the commit lock, so it interleaves
        safely with writers).  A fresh session then serves probes straight
        from the table it indexes -- no sidecar file to distribute."""
        payload = self._payload()
        return sink._commit_metadata(
            lambda latest: (
                {"ann_index": sink._pack_blob(payload)},
                {"ann_index_updated": True},
            )
        )["snapshot_id"]

    @classmethod
    def load_from_table(cls, sink) -> "IVFIndex":
        ref = sink.manifest().get("ann_index")
        if not ref:
            raise KeyError("table has no ann_index (IVFIndex.save_to_table first)")
        return cls._from_payload(sink._resolve_blob(ref))

    def _cell_expr(self, vec_col: Column) -> Column:
        """Nearest centroid by cosine, as a pure expression (no UDF):
        array of per-centroid sims, then argmax via
        ``array_position(sims, array_max(sims))`` (first occurrence =
        deterministic lowest-cell tie-break, same as the old chained-when
        semantics).

        Expression size is genuinely O(k * dim) literals.  The previous
        chained-when formulation referenced the running ``best_sim``
        TWICE per level (condition + otherwise), so the unexpanded tree
        was O(2^k) -- it OOM'd the driver at exactly the documented
        EXPR_PATH_MAX_K=16 (found by tools/ann_recall.py)."""
        sims = F.array(
            *[
                cosine(vec_col, F.array(*[F.lit(x) for x in c]))
                for c in self.centroids
            ]
        )
        return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")

    # beyond this k, the chained-when expression tree stops being viable
    # (codegen size grows O(k^2 * dim) with the accumulated conditions)
    EXPR_PATH_MAX_K = 16

    def assign(self, df: DataFrame, out: str = "_cell", id_col: str | None = None) -> DataFrame:
        """Add the nearest-centroid cell column.

        k <= EXPR_PATH_MAX_K: pure expression (zero shuffle, whole-stage
        codegen).  Larger k: broadcast the centroid table and reduce with
        max(struct(sim, -cell)) per row id -- the broadcast join is
        shuffle-free; the reduction shuffles once on the row id, which
        also scales to k = thousands (IVF-4096 etc.).  With no ``id_col``
        a temporary monotonically_increasing_id is the reduce key, so
        exact-duplicate rows keep their cardinality (grouping by payload
        columns would collapse them)."""
        if len(self.centroids) <= self.EXPR_PATH_MAX_K:
            return df.withColumn(out, self._cell_expr(F.col(self.vec_col)))
        spark = df.sparkSession
        cents = spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.centroids)], ["_cell_id", "_cent"]
        )
        if id_col:
            scored = df.crossJoin(F.broadcast(cents)).withColumn(
                "_sim", cosine(F.col(self.vec_col), F.col("_cent"))
            )
            # winner per input row: max over (sim, -cell) -- deterministic
            # lowest-cell tie-break, single hash aggregate
            won = scored.groupBy(F.col(id_col)).agg(
                F.max(
                    F.struct(F.col("_sim"), (-F.col("_cell_id")).alias("_negcell"))
                ).alias("_w")
            )
            picked = won.withColumn(out, (-F.col("_w._negcell")).cast("int")).drop("_w")
            return df.join(picked.select(id_col, out), on=id_col)
        # no id: synthesize one, group by (rid, payload) -- the rid is
        # consumed inside the SAME plan (no self-join back), so its
        # nondeterminism across recomputations cannot split rows
        rid = "_ivf_rid"
        scored = (
            df.withColumn(rid, F.monotonically_increasing_id())
            .crossJoin(F.broadcast(cents))
            .withColumn("_sim", cosine(F.col(self.vec_col), F.col("_cent")))
        )
        won = scored.groupBy(F.col(rid), *[F.col(c) for c in df.columns]).agg(
            F.max(
                F.struct(F.col("_sim"), (-F.col("_cell_id")).alias("_negcell"))
            ).alias("_w")
        )
        return (
            won.withColumn(out, (-F.col("_w._negcell")).cast("int")).drop("_w", rid)
        )

    def _query_cells(self, query_vec: list[float], nprobe: int) -> list[int]:
        import math

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a)) or 1.0
            nb = math.sqrt(sum(x * x for x in b)) or 1.0
            return d / (na * nb)

        sims = sorted(
            ((cos(query_vec, c), i) for i, c in enumerate(self.centroids)), reverse=True
        )
        return [i for _, i in sims[:nprobe]]

    def topk(
        self,
        assigned: DataFrame,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 2,
        id_col: str = "vec_id",
        cell_col: str = "_cell",
    ) -> DataFrame:
        cells = self._query_cells(query_vec, nprobe)
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        scored = assigned.filter(F.col(cell_col).isin(cells)).select(
            F.col(id_col), F.round(cosine(F.col(self.vec_col), q), 6).alias("cos_sim")
        )
        return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def ivf_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """ENGINE-PORTABLE nearest-centroid cell: argmax over per-centroid
    cosines ROUNDED to 6 decimals, first occurrence (= lowest cell) on
    ties.  Pure codegen expression, O(k * dim) literals.  The rounding
    makes the assignment reproducible across engines (a DuckDB oracle
    recomputes it declaratively); ``IVFIndex._cell_expr`` is the
    unrounded in-engine variant."""
    sims = F.array(
        *[
            F.round(cosine(vec, F.array(*[F.lit(x) for x in c])), 6)
            for c in centroids
        ]
    )
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def ivf_probe_cells(
    vec: Column, centroids: list[list[float]], nprobe: int
) -> Column:
    """The ``nprobe`` nearest cells for a vector, ordered (rounded cosine
    desc, cell asc) -- the multi-cell generalization of :func:`ivf_cell`
    for query-side probing.  Returns an ``array<int>``; pure codegen."""
    sims = F.array(
        *[
            F.struct(
                F.round(cosine(vec, F.array(*[F.lit(x) for x in c])), 6).alias(
                    "sim"
                ),
                F.lit(i).cast("int").alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    ordered = F.array_sort(
        sims,
        lambda a, b: F.when(a["sim"] > b["sim"], F.lit(-1))
        .when(a["sim"] < b["sim"], F.lit(1))
        .otherwise(a["cell"] - b["cell"]),
    )
    return F.transform(F.slice(ordered, 1, nprobe), lambda s: s["cell"])


def ivf_ann_join(
    left: DataFrame,
    right: DataFrame,
    index: "IVFIndex",
    k: int = 3,
    nprobe: int = 2,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Batch approximate nearest-neighbor JOIN: for every left row, the
    top-k right rows by cosine among candidates sharing any of the left
    row's ``nprobe`` nearest cells -- the retrieval/cross-corpus-dedup
    primitive ("for each query/new document, its nearest catalog
    entries") as ONE declarative plan, where per-query :meth:`IVFIndex.
    topk` loops on the driver.

    Scale shape: both sides assign cells with pure codegen expressions
    (:func:`ivf_cell` / :func:`ivf_probe_cells`); the candidate set is
    an equi-join on the cell, proportional to candidate mass (~ |left| *
    nprobe * |right| / k), never the |left| x |right| cross product;
    pair dedup happens on (left_id, right_id) BEFORE the re-score; the
    final per-query top-k is one hash-partitioned window over the
    candidates.  The cell join key has only k distinct values, so a
    SHUFFLE join on it serializes to <= k reducers -- with the typical
    retrieval shape (queries << catalog), ``broadcast_queries=True``
    (default) broadcasts the exploded query side instead and the catalog
    NEVER shuffles; set it False when the query corpus is itself huge
    (the shuffle join then caps at k-way parallelism in the join stage;
    the downstream dedup + window re-spread on finer keys).  Ranking is
    engine-portable: rounded cosine desc, right id asc.

    Returns (query_id, match_id, cos_sim, rn) with rn in [1, k].
    """
    cents = index.centroids
    L = left.select(
        F.col(left_id).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(ivf_probe_cells(F.col(vec_col), cents, nprobe)).alias("_cell"),
    )
    if broadcast_queries:
        L = F.broadcast(L)
    R = right.select(
        F.col(right_id).alias("match_id"),
        F.col(vec_col).alias("_rv"),
        ivf_cell(F.col(vec_col), cents).alias("_cell"),
    )
    # a pair can meet in several probed cells: dedup BEFORE the re-score
    # (the surviving row's vectors are identical across duplicates)
    cand = R.join(L, "_cell").dropDuplicates(["query_id", "match_id"])
    scored = cand.select(
        "query_id",
        "match_id",
        F.round(cosine(F.col("_qv"), F.col("_rv")), 6).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("match_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def connected_components(
    pairs: DataFrame, max_rounds: int = 20
) -> tuple[DataFrame, int]:
    """Connected components over an undirected edge list (columns
    ``id_a``, ``id_b``) via ALTERNATING LARGE-STAR / SMALL-STAR (Kiveris
    et al., "Connected Components in MapReduce and Beyond"):

    * large-star: every node attaches its larger neighbors to the min of
      its closed neighborhood;
    * small-star: every node attaches its smaller-or-equal neighborhood
      (itself included) to that neighborhood's min.

    Each double-step at least halves the height of every tree, so a
    D-diameter chain converges in O(log D) rounds -- not the O(D) of
    plain min-label propagation (a 50-node path: 5 rounds, not 49).
    After every round the edge set is ``localCheckpoint``-ed: plan depth
    stays ONE join deep regardless of round count (no 20-deep lineage
    stack), and the convergence check is a single 2-number aggregate
    (count + order-insensitive hash), not a join-based diff.

    Returns (labels, rounds): labels = (node, label) with label the
    component's min node id, one row per distinct node in ``pairs``.
    """
    sym = pairs.select("id_a", "id_b").unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    all_nodes = sym.select(F.col("id_a").alias("node")).distinct().localCheckpoint()
    # current state: symmetric edge set (u, v)
    edges = sym.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).distinct()
    edges = edges.localCheckpoint()
    prev_sig = None
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # ---- large-star: per u, m = min(N(u) + {u}); emit (v, m) for v > u
        lmin = edges.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            edges.filter(F.col("v") > F.col("u"))
            .join(lmin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # ---- small-star input: each undirected edge once, directed max->min
        e2 = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v")).distinct()
        smin = e2.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            e2.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smin.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # re-symmetrize for the next large-star; truncate lineage NOW so
        # round r+1's plan starts from a materialized RDD, not r joins.
        # The PREVIOUS round's checkpoint blocks are released as soon as
        # the new one has materialized (eager by default) -- without the
        # unpersist, up to max_rounds copies of the edge set pile up in
        # executor storage.
        prev_edges = edges
        edges = (
            small.unionByName(
                small.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            .distinct()
            .localCheckpoint()
        )
        prev_edges.unpersist()
        # order-insensitive multiset signature; bit_xor cannot overflow
        # (sum of hashes trips ANSI long-overflow on big edge sets)
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged state is a union of stars: (child, root) with root = min
    mapping = edges.filter(F.col("u") > F.col("v")).groupBy("u").agg(
        F.min("v").alias("label")
    )
    labels = all_nodes.join(
        mapping, all_nodes["node"] == mapping["u"], "left"
    ).select("node", F.coalesce("label", F.col("node")).alias("label"))
    return labels, rounds


def neardup_clusters(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rounds: int = 20,
    **neardup_kwargs,
) -> DataFrame:
    """Connected components over the near-duplicate pair graph:
    (vec_id, cluster_id) for every vector in >= 1 pair, cluster_id = the
    smallest id reachable through near-dup edges (the canonical survivor,
    so dedup keeps exactly one doc per cluster).  Components come from
    :func:`connected_components` (large-star/small-star, O(log diameter)
    rounds, lineage-truncated per round)."""
    pairs = embedding_neardup_pairs(df, vec_col, id_col, **neardup_kwargs).select(
        "id_a", "id_b"
    )
    labels, _rounds = connected_components(pairs, max_rounds=max_rounds)
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    bands: int = 8,
    planes_per_band: int = 16,
    threshold: float = 0.42,
    seed: int = 7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via BANDED hyperplane LSH
    (multi-table OR-construction) then exact cosine verification
    (id_a < id_b, round(cos, 6) >= threshold).

    One hash table of b bits has collision probability p^b per pair
    (p = 1 - theta/pi) -- a single 12-plane table finds near-nothing below
    cos ~0.95 and its few giant buckets self-join quadratically.  Banding
    fixes both at once: ``bands`` small tables of ``planes_per_band`` bits
    each give 1-(1-p^r)^B recall, and every band bucket is small, so the
    (band, bucket) equi-join stays linear in candidate mass -- exactly the
    MinHash banding shape (functions/dedup.py:minhash_lsh_candidates).
    Candidate pair ids are deduped BEFORE re-joining the vectors, so each
    surviving pair's exact cosine is computed once.

    Scale knobs: the default ``planes_per_band=16`` gives 2^16 buckets per
    band, so band buckets stay small at corpus scale (3 bits = 8 buckets
    only suits tiny oracle fixtures; pass it explicitly there).  Even so,
    a degenerate corpus (millions of boilerplate near-identical docs) can
    put everything in one bucket, so ``max_bucket_size`` hard-caps the
    candidate mass: buckets with more than that many members are DROPPED
    before the self-join (same knob as ``max_shingle_df`` in
    functions/dedup.py:ngram_jaccard_pairs).  Genuine near-dup pairs
    collide in many independent bands, so they survive losing a hot
    bucket; with the cap on, candidate rows are <= bands * cap * n.
    """
    planes = _random_hyperplanes(dim, bands * planes_per_band, seed)
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    band_structs = []
    for b in range(bands):
        bucket = F.lit(0)
        for j in range(planes_per_band):
            p = planes[b * planes_per_band + j]
            plane = F.array(*[F.lit(x) for x in p])
            bucket = bucket + F.when(dot(F.col("_v"), plane) > 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            )
        band_structs.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    banded = base.select("_id", F.explode(F.array(*band_structs)).alias("_bb")).select(
        "_id", F.col("_bb.band").alias("_band"), F.col("_bb.bucket").alias("_bkt")
    )
    if max_bucket_size is not None:
        from fetchez_spark.functions.dedup import cap_bucket_size

        banded = cap_bucket_size(banded, ["_band", "_bkt"], max_bucket_size)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["_band", "_bkt"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    max_rounds: int = 20,
    **neardup_kwargs,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): group semantically
    near-duplicate documents, then KEEP exactly one representative per
    group -- the member with the LOWEST cosine similarity to its group
    centroid (the paper's low-similarity rule: the survivor is the most
    diverse member, not the most typical), ties broken by smallest id.
    Documents in no near-dup pair are their own singleton (kept, with
    ``cos_centroid`` 1.0 by definition).

    Returns one row per input document:
    ``(id, cluster_id, cos_centroid, keep)``.

    Scale shape (everything linear in corpus size, nothing all-pairs):
    groups come from the banded-LSH pair graph (:func:`neardup_clusters`
    -- candidate mass bounded by band buckets + ``max_bucket_size``) via
    O(log diameter) connected components; the centroid is ONE hash
    aggregate of ``dim`` per-element ``avg`` expressions (pure codegen,
    map-side partial agg, no explode and no window); the representative
    is a ``min(struct)`` aggregate re-joined on ``cluster_id``; the
    singleton pass is a left-anti join against the (small) clustered-id
    set.  Every shuffle keys on ``cluster_id`` or ``id`` -- O(n) rows.
    """
    clusters = neardup_clusters(
        df, vec_col, id_col, max_rounds=max_rounds, dim=dim, **neardup_kwargs
    )
    base = df.select(F.col(id_col), F.col(vec_col))
    mem = base.join(clusters, id_col)
    cent = mem.groupBy("cluster_id").agg(
        F.array(
            *[F.avg(F.col(vec_col)[i].cast("double")) for i in range(dim)]
        ).alias("_centroid")
    )
    scored = mem.join(cent, "cluster_id").select(
        F.col(id_col),
        F.col("cluster_id"),
        F.round(cosine(F.col(vec_col), F.col("_centroid")), 6).alias("cos_centroid"),
    )
    # representative = argmin(rounded cos, id): min over a 2-field struct,
    # no window -- the ROUNDED value ranks so an oracle ranking the same
    # 6-decimal quantity agrees bit-for-bit
    win = scored.groupBy("cluster_id").agg(
        F.min(F.struct(F.col("cos_centroid"), F.col(id_col))).alias("_w")
    )
    clustered = (
        scored.join(win, "cluster_id")
        .withColumn(
            "keep", F.struct(F.col("cos_centroid"), F.col(id_col)) == F.col("_w")
        )
        .select(id_col, "cluster_id", "cos_centroid", "keep")
    )
    singletons = base.join(clusters, id_col, "left_anti").select(
        F.col(id_col),
        F.col(id_col).alias("cluster_id"),
        F.lit(1.0).alias("cos_centroid"),
        F.lit(True).alias("keep"),
    )
    return clustered.unionByName(singletons)
