"""Round-2 sink/selection fixes, each tied to a VERDICT/ADVICE finding:

* bucket-clustered deltas -> bucket-pruned reads touch ONE bucket's files
  even with uncompacted deltas (VERDICT "MoR read amplification")
* per-src-partition lineage counts ride the commit metrics; the batch is
  never scanned twice (VERDICT "lineage double-scan")
* schema null-backfill for pre-evolution replays (ADVICE local_snapshot:221)
* rollback never reuses snapshot ids (ADVICE local_snapshot:190)
* committed_batches window bounds manifest growth (ADVICE local_snapshot:443)
* Selection.chunk keeps the last chunk open (ADVICE selection.py:64)
* snapshot metadata search (FRED search analog)
* minor compaction consolidates deltas without rewriting bases
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fetchez_spark.schema import CHANGE_EVENT_SCHEMA
from fetchez_spark.selection import Selection
from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
from fetchez_spark.streaming.lineage import LineageLog

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def ev(op, conv, turn, text, ts_s, seq, part=0):
    return (op, conv, turn, "user", text, None, T0 + dt.timedelta(seconds=ts_s), seq, part)


def _df(spark, rows, schema=CHANGE_EVENT_SCHEMA):
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------- MoR pruning
def test_bucket_pruned_read_skips_other_buckets_deltas(spark, tmp_path):
    """With uncompacted (clustered) deltas present, a bucket-pruned read
    must scan ONLY the requested bucket's base+delta files."""
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4)
    convs = [f"c{i}" for i in range(12)]
    sink.merge(_df(spark, [ev("I", c, 0, "v1", i, i) for i, c in enumerate(convs)]), "b1")
    sink.merge(_df(spark, [ev("U", c, 0, "v2", 100 + i, 100 + i) for i, c in enumerate(convs)]), "b2")
    m = sink.manifest()
    assert not m["files"], "nothing compacted yet"
    deltas = sink.delta_lists()
    delta_buckets = {b for b, fs in deltas.items() if fs}
    assert len(delta_buckets) > 1, "fixture must spread over several buckets"
    b = sorted(delta_buckets)[0]
    allowed = set(deltas[b])
    scanned = {f.removeprefix("file://") for f in sink.read(spark, buckets=[int(b)]).inputFiles()}
    assert scanned, "pruned read scans something"
    assert scanned <= allowed, f"read leaked into other buckets: {scanned - allowed}"
    # and the pruned rows are exactly that bucket's latest versions
    got = sink.read(spark, buckets=[int(b)]).select("conv_id", "text").collect()
    assert all(r["text"] == "v2" for r in got)


def test_lookup_prunes_with_deltas(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4)
    sink.merge(_df(spark, [ev("I", f"c{i}", 0, "x", i, i) for i in range(8)]), "b1")
    m = sink.manifest()
    all_delta_files = [f for fs in sink.delta_lists().values() for f in fs]
    df = sink.lookup(spark, "c3")
    scanned = {f.removeprefix("file://") for f in df.inputFiles()}
    assert scanned < set(all_delta_files)
    assert df.count() == 1


# ------------------------------------------------------------------- lineage
def test_lineage_counts_from_commit_metrics(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4)
    rows = [ev("I", f"c{i}", 0, "x", i, i, part=i % 3) for i in range(9)]
    m = sink.merge(_df(spark, rows), "b1")
    assert m["rows_in_per_src_partition"] == {0: 3, 1: 3, 2: 3}
    log = LineageLog(str(tmp_path / "lineage"))
    rec = log.record(0, m)  # note: NO batch passed -- no fallback scan
    assert rec["rows_in_per_src_partition"] == {0: 3, 1: 3, 2: 3}
    per_part = log.read(spark)
    assert per_part.count() == 3


def test_lineage_no_silent_fallback_scan(spark, tmp_path):
    """Without per-partition counts in the metrics, record() must NOT scan
    the batch unless explicitly asked to."""
    log = LineageLog(str(tmp_path / "lineage"))
    batch = _df(spark, [ev("I", "c1", 0, "x", 0, 0, part=2)])
    rec = log.record(0, {"rows_in": 1}, batch=batch)  # default: no scan
    assert rec["rows_in_per_src_partition"] == {}
    rec2 = log.record(1, {"rows_in": 1}, batch=batch, scan_fallback=True)
    assert rec2["rows_in_per_src_partition"] == {2: 1}


# ------------------------------------------------------------ schema backfill
def test_merge_accepts_pre_evolution_batch(spark, tmp_path):
    """A batch WITHOUT an already-evolved column must null-backfill, not
    crash (ADVICE: _write_flat/_write_bucketed select from missing cols)."""
    from pyspark.sql import types as T

    evolved = T.StructType(
        list(CHANGE_EVENT_SCHEMA.fields) + [T.StructField("model", T.StringType(), True)]
    )
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2)
    sink.merge(
        _df(spark, [ev("I", "c1", 0, "a", 0, 0) + ("m-big",)], evolved), "b1"
    )
    assert "model" in [f.name for f in sink.schema().fields]
    # pre-evolution replica arrives later (no `model` column at all)
    sink.merge(_df(spark, [ev("I", "c2", 0, "b", 1, 1)]), "b2")
    got = {r["conv_id"]: r["model"] for r in sink.read(spark).collect()}
    assert got == {"c1": "m-big", "c2": None}
    # and CoW mode takes the same path without error
    cow = LocalSnapshotSink(str(tmp_path / "t2"), num_buckets=2, mode="cow")
    cow.merge(_df(spark, [ev("I", "c1", 0, "a", 0, 0) + ("m-big",)], evolved), "b1")
    cow.merge(_df(spark, [ev("I", "c2", 0, "b", 1, 1)]), "b2")
    assert cow.read(spark).count() == 2


# --------------------------------------------------------------- snapshot ids
def test_rollback_never_reuses_snapshot_ids(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2)
    sink.merge(_df(spark, [ev("I", "c1", 0, "v1", 0, 0)]), "b1")
    s1 = sink.current_snapshot_id
    sink.merge(_df(spark, [ev("U", "c1", 0, "v2", 1, 1)]), "b2")
    s2 = sink.current_snapshot_id
    sink.rollback(s1)
    sink.merge(_df(spark, [ev("U", "c1", 0, "v3", 2, 2)]), "b3")
    s3 = sink.current_snapshot_id
    assert s3 not in (s1, s2)
    assert s3 > s2, "ids allocated past ALL existing manifests, never reused"
    # time travel to the abandoned-but-retained snapshot still works
    assert sink.read(spark, snapshot_id=s2).select("text").first()["text"] == "v2"


# ------------------------------------------------------------- token windowing
def test_committed_batches_window(spark, tmp_path):
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=2, max_committed_tokens=3
    )
    for i in range(5):
        sink.merge(_df(spark, [ev("I", f"c{i}", 0, "x", i, i)]), f"b{i}")
    committed = sink.manifest()["committed_batches"]
    assert len(committed) == 3
    assert set(committed) == {"b2", "b3", "b4"}, "newest tokens retained"
    assert sink.is_committed("b4") and not sink.is_committed("b0")
    # a replay of a still-windowed token is the exactly-once no-op
    assert sink.merge(_df(spark, [ev("I", "cX", 0, "x", 9, 9)]), "b3")["skipped"]


# ------------------------------------------------------------ selection chunk
def test_selection_chunk_last_chunk_stays_open():
    chunks = Selection(key_min="conv_00000000").chunk(4)
    assert chunks[-1].key_max is None, "open bound must stay open"
    # a key beyond 8 digits of the penultimate boundary is still covered
    probe = "conv_99999999"
    assert any(
        (c.key_min <= probe) and (c.key_max is None or probe < c.key_max)
        for c in chunks
    )
    # chunks are disjoint and ordered
    for a, b in zip(chunks, chunks[1:]):
        assert a.key_max == b.key_min


def test_selection_chunk_closed_range_exact():
    sel = Selection(key_min="conv_00000000", key_max="conv_00000050")
    chunks = sel.chunk(2)
    assert chunks[0].key_min == "conv_00000000"
    assert chunks[-1].key_max == "conv_00000050"


# --------------------------------------------------------------------- search
def test_snapshot_search(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2)
    sink.merge(_df(spark, [ev("I", f"c{i}", 0, "x", i, i) for i in range(10)]), "b1")
    sink.merge(_df(spark, [ev("I", "cX", 0, "x", 99, 99)]), "b2")
    recs = sink.search(ranges={"rows_in": (5, None)})
    assert [r["rows_in"] for r in recs] == [10]
    assert sink.search(eq={"snapshot_id": sink.current_snapshot_id})
    hwm = sink.search(ranges={"high_watermark": ("2024-01-01 12:00:30", None)})
    assert {r["snapshot_id"] for r in hwm} == {sink.current_snapshot_id}
    df = sink.search_df(spark, ranges={"rows_in": (1, None)})
    assert df.count() == 2


# ----------------------------------------------------------- minor compaction
def test_minor_compaction_consolidates_deltas(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2, compact_every=10**9)
    for b in range(4):
        sink.merge(
            _df(spark, [ev("U", f"c{i}", 0, f"v{b}", 100 * b + i, 100 * b + i) for i in range(6)]),
            f"b{b}",
        )
    before = sink.read(spark).orderBy("conv_id").collect()
    m0 = sink.manifest()
    n_delta_before = sum(len(fs) for fs in sink.delta_lists().values())
    assert n_delta_before >= 4
    res = sink.compact(spark, minor=True)
    assert res["minor"] and res["compacted_buckets"] >= 1
    m1 = sink.manifest()
    assert m1["files"] == m0["files"], "bases untouched"
    n_delta_after = sum(len(fs) for fs in sink.delta_lists().values())
    assert n_delta_after <= m1["num_buckets"], "one consolidated delta per bucket"
    after = sink.read(spark).orderBy("conv_id").collect()
    assert after == before, "minor compaction is state-preserving"


# ------------------------------------------------------ similarity scale paths
def test_ivf_broadcast_assign_matches_expression_path(spark):
    from fetchez_spark.functions.similarity import IVFIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFIndex(k=8, seed=42).fit(e)
    via_expr = idx.assign(e).select("vec_id", "_cell")
    old = IVFIndex.EXPR_PATH_MAX_K
    try:
        IVFIndex.EXPR_PATH_MAX_K = 1  # force the broadcast-join path
        via_join = idx.assign(e, id_col="vec_id").select("vec_id", "_cell")
    finally:
        IVFIndex.EXPR_PATH_MAX_K = old
    diff = via_expr.alias("a").join(
        via_join.alias("b"), on="vec_id"
    ).filter(F.col("a._cell") != F.col("b._cell"))
    assert diff.count() == 0


def test_ivf_k64_full_probe_equals_brute_force(spark):
    from fetchez_spark.functions.similarity import IVFIndex, cosine

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    idx = IVFIndex(k=64, seed=42).fit(e)
    assigned = idx.assign(e, id_col="vec_id")
    approx = idx.topk(assigned, qv, k=10, nprobe=64)  # full probe == exact
    q = F.array(*[F.lit(x) for x in qv])
    exact = (
        e.select("vec_id", F.round(cosine(F.col("embedding"), q), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )
    assert [r["vec_id"] for r in approx.collect()] == [r["vec_id"] for r in exact.collect()]


def test_ngram_df_cap_keeps_rare_pairs_linear(spark):
    """Planted hot-shingle corpus: the df cap drops the stopword-run
    shingles from the inverted index (bounding the self-join) while the
    genuinely-near-dup pair -- which shares RARE shingles only -- keeps its
    exact jaccard."""
    from fetchez_spark.functions.dedup import ngram_jaccard_pairs

    hot = "zq" * 40  # the same 80-char run in every filler doc
    filler = [(i, hot + f" tail{i:04d}") for i in range(2, 30)]
    near_a = (0, "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKLMNOPQRSTUV")
    near_b = (1, "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKLMNOPQRSTUW")
    df = spark.createDataFrame([near_a, near_b] + filler, ["doc_id", "text"])
    capped = ngram_jaccard_pairs(df, threshold=0.8, max_shingle_df=5).collect()
    assert [(r["id_a"], r["id_b"]) for r in capped] == [(0, 1)]
    uncapped = ngram_jaccard_pairs(df, threshold=0.8).filter(
        (F.col("id_a") == 0) & (F.col("id_b") == 1)
    ).collect()
    assert capped[0]["jaccard"] == uncapped[0]["jaccard"], (
        "rare-shingle pair's exact jaccard unchanged by the cap"
    )


def test_simhash_hamming_pairs_finds_exact_dups(spark):
    from fetchez_spark.functions.dedup import simhash_hamming_pairs

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "a completely different document about spark aggregation plans"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = simhash_hamming_pairs(df, max_hamming=3).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(0, 1, 0)]


def test_ivf_pruned_probe_recall_on_clustered_data(spark):
    """On data with real cluster structure (the geometry IVF exists for),
    a 2-of-8-cell probe must achieve recall 1.0 -- the pruning-quality
    contract the driver fixture (uniform random vectors, no structure)
    cannot express."""
    import numpy as np

    from fetchez_spark.functions.similarity import IVFIndex, cosine

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for i in range(400):
        c = centers[i % 8]
        v = c + 0.15 * rng.normal(size=32)
        pts.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(pts, ["vec_id", "embedding"])
    qv = [float(x) for x in centers[0] + 0.05 * rng.normal(size=32)]
    idx = IVFIndex(k=8, seed=42).fit(df)
    assigned = idx.assign(df)
    approx = {r["vec_id"] for r in idx.topk(assigned, qv, k=10, nprobe=2).collect()}
    q = F.array(*[F.lit(x) for x in qv])
    exact = {
        r["vec_id"]
        for r in df.select(
            "vec_id", F.round(cosine(F.col("embedding"), q), 6).alias("c")
        )
        .orderBy(F.desc("c"), F.asc("vec_id"))
        .limit(10)
        .collect()
    }
    assert len(approx & exact) == 10, f"recall {len(approx & exact)}/10"


def test_compaction_single_shuffle(spark, tmp_path):
    """The compaction write must move the table ONCE: a single Exchange
    (on _bucket), bucket-local reduction, no repartition before the
    partitionBy write (the round-1 plan shuffled twice: groupBy(key) then
    repartition(bucket))."""
    from pyspark.sql import types as T

    from fetchez_spark.schema import INTERNAL_SEQ
    from fetchez_spark.sinks.local_snapshot import _BUCKET

    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4, compact_every=10**9)
    sink.merge(_df(spark, [ev("I", f"c{i}", 0, "x", i, i) for i in range(20)]), "b1")
    m = sink.manifest()
    schema = T.StructType.fromJson(m["schema"])
    files = [f for fs in sink.delta_lists().values() for f in fs]
    df = sink._read_files(spark, files, schema).withColumn(
        _BUCKET, sink._bucket_expr(m["num_buckets"])
    )
    aligned = sink._align(df, schema)
    order = ["ts", INTERNAL_SEQ]
    others = [f.name for f in schema.fields if f.name not in order]
    big = F.struct(*[F.col(c) for c in order], *[F.col(c) for c in others])
    won = (
        aligned.repartition(4, F.col(_BUCKET))
        .groupBy(F.col(_BUCKET), *[F.col(k) for k in sink.key])
        .agg(F.max(big).alias("_w"))
    )
    plan = won._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected ONE shuffle, plan:\n{plan[:2000]}"
    # and the compacted state equals the read-side reduction
    before = sink.read(spark).orderBy("conv_id").collect()
    sink.compact(spark)
    after = sink.read(spark).orderBy("conv_id").collect()
    assert after == before


def test_manifest_size_bounded_by_touched_not_history(spark, tmp_path):
    """File-list blob refs: each commit's manifest JSON stays ~constant
    size as commits accumulate (it stores ~50-byte refs for untouched
    buckets), instead of growing with the total file count (ADVICE:
    O(n^2) metadata over the stream's life)."""
    import os as _os

    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=4, compact_every=10**9, max_committed_tokens=4
    )
    sizes = []
    for i in range(10):
        sink.merge(_df(spark, [ev("I", f"c{i}", 0, "x", i, i)]), f"b{i}")
        sizes.append(_os.path.getsize(sink._manifest_path(sink.current_snapshot_id)))
    # growth from commit 3 to commit 10 must be tiny (ref strings only),
    # NOT proportional to the 10x file count
    assert sizes[-1] < sizes[2] * 1.5, sizes
    # refs resolve to the full lists and reads still see everything
    assert sink.read(spark).count() == 10
    n_files = sum(len(fs) for fs in sink.delta_lists().values())
    assert n_files >= 10


def test_expire_gcs_list_blobs(spark, tmp_path):
    import os as _os

    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2, compact_every=10**9)
    for i in range(4):
        sink.merge(_df(spark, [ev("I", f"c{i}", 0, "x", i, i)]), f"b{i}")
    lists_dir = sink._lists_dir()
    before = len(_os.listdir(lists_dir))
    assert before >= 4
    # min_age_seconds=0: count-only expiry (no writers running here);
    # the default hour-long age grace would retain these young manifests
    sink.expire_snapshots(keep_last=1, min_age_seconds=0)
    after = len(_os.listdir(lists_dir))
    assert after < before, "unreferenced list blobs were garbage-collected"
    assert sink.read(spark).count() == 4, "current state intact"


def test_read_changes_incremental_scan(spark, tmp_path):
    """Incremental read between snapshots: exactly the rows merged in the
    range, deletes as tombstones when internal, maintenance snapshots
    contribute nothing."""
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4, compact_every=10**9)
    sink.merge(_df(spark, [ev("I", "c1", 0, "a", 0, 0), ev("I", "c2", 0, "b", 1, 1)]), "b1")
    s1 = sink.current_snapshot_id
    sink.merge(_df(spark, [ev("U", "c1", 0, "a2", 10, 10)]), "b2")
    sink.merge(_df(spark, [ev("D", "c2", 0, None, 11, 11), ev("I", "c3", 0, "c", 12, 12)]), "b3")
    s3 = sink.current_snapshot_id

    got = {
        (r["conv_id"], r["text"]) for r in sink.read_changes(spark, s1).collect()
    }
    assert got == {("c1", "a2"), ("c3", "c")}, got
    with_tombstones = sink.read_changes(spark, s1, include_internal=True)
    deleted = [r["conv_id"] for r in with_tombstones.filter(F.col("_deleted")).collect()]
    assert deleted == ["c2"]

    # compaction adds no changes
    sink.compact(spark)
    s4 = sink.current_snapshot_id
    assert sink.read_changes(spark, s3, s4).count() == 0
    # and the range ending after compaction still reports only real merges
    assert sink.read_changes(spark, s1, s4).count() == 2

    # expired/foreign ancestor -> loud error
    import pytest

    with pytest.raises(ValueError, match="ancestor"):
        sink.read_changes(spark, "snap-0000000099")
