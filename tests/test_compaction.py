"""Major compaction: the hash fold in ``_dedup_write_bucketed``.

Every major fold takes one path: read a bucket's base+delta files, keep
the max-(ts, _seq, payload...) row per key, write one bucket-clustered
base.  These tests drive it over tricky data -- deletes, an exact
duplicate row, equal-(ts, _seq) ties whose payloads differ only in
nulls, clustered and flat delta layouts, a schema widened mid-log -- and
check the folded state against a one-shot last-writer-wins oracle.  They
also pin the sink's option surface: tables that recorded a since-removed
property still open, and new knobs need a visible edit here.  Tables
whose buckets the retired live-fraction fold left multi-version
(``mv_buckets``) still read, count and fold exactly.  The last group
covers ``compact(bloom=True)``: parquet footer blooms of the
leading key, checked through parquet-mr's footer reader.
"""

from __future__ import annotations

import datetime as dt
import inspect
import json
import os

import pytest

from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

UTC = dt.timezone.utc
_COLS = "conv_id", "turn_idx", "role", "text", "tool", "ts"


def _ts(h: int, m: int = 0) -> dt.datetime:
    return dt.datetime(2025, 4, 1, h, m, tzinfo=UTC)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "op string, conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, seq long, src_partition int",
    )


def _fill(spark, sink, n=60, batches=3) -> list[tuple]:
    """n keys over ``batches`` merges: updates, deletes (every 7th key in
    the last batch), an exact duplicate row, and two equal-(ts, seq) ties
    that decide the final state.  Returns every event merged."""
    events = []
    for b in range(batches):
        last = b == batches - 1
        rows = []
        for i in range(n):
            op = "D" if (last and i % 7 == 0) else ("U" if b else "I")
            rows.append(
                (op, f"c{i}", i % 3, "user", f"v{b}-{i}", None, _ts(b + 1), b * 1000 + i, 0)
            )
        if last:
            seq = b * 1000
            # exact duplicate of c1's last event
            rows.append(("U", "c1", 1, "user", f"v{b}-1", None, _ts(b + 1), seq + 1, 0))
            # ties on (ts, seq): the payload breaks them like
            # max(struct(ts, _seq, payload...)), a null below any value --
            # c1 keeps its text (the rival's text is null), c2 takes the
            # rival's tool (its own tool is null)
            rows.append(("U", "c1", 1, "user", None, "t", _ts(b + 1), seq + 1, 0))
            rows.append(("U", "c2", 2, "user", f"v{b}-2", "t", _ts(b + 1), seq + 2, 0))
        sink.merge(_batch(spark, rows), f"b-{b}")
        events += rows
    return events


def _lww_oracle(events) -> list[tuple]:
    """One-shot fold of the whole log: per key, the event with the
    greatest (ts, seq, role, text, tool), nulls lowest; keys whose winner
    is a delete are gone."""

    def order(e):
        return (e[6], e[7], *[(v is not None, v or "") for v in e[3:6]])

    won: dict[tuple, tuple] = {}
    for e in events:
        k = (e[1], e[2])
        if k not in won or order(e) >= order(won[k]):
            won[k] = e
    # reads return naive timestamps in the session zone (UTC)
    return sorted(
        (e[1], e[2], e[3], e[4], e[5], e[6].replace(tzinfo=None))
        for e in won.values()
        if e[0] != "D"
    )


def _state(spark, sink) -> list[tuple]:
    return sorted(tuple(r) for r in sink.read(spark).select(*_COLS).collect())


@pytest.mark.parametrize("clustered", [True, False], ids=["clustered", "flat"])
def test_fold_matches_one_shot_oracle(spark, tmp_path, clustered):
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=4, compact_every=10**9,
        cluster_deltas=clustered,
    )
    want = _lww_oracle(_fill(spark, sink))
    won = {(r[0], r[1]): r for r in want}
    assert won[("c1", 1)][3:5] == ("v2-1", None)
    assert won[("c2", 2)][3:5] == ("v2-2", "t")
    assert _state(spark, sink) == want  # merge-on-read, before the fold
    out = sink.compact(spark)
    assert out["compacted_buckets"] >= 1
    assert _state(spark, sink) == want
    # fully folded: no deltas (flat ones included) remain
    assert not any(sink.delta_lists().values())
    # tombstones survive the fold (late replays must still lose)
    dead = (
        sink.read(spark, include_internal=True, include_deleted=True)
        .filter("_deleted")
        .select("conv_id")
        .collect()
    )
    assert sorted(r[0] for r in dead) == sorted(f"c{i}" for i in range(0, 60, 7))


def test_target_file_bytes_splits_flat_table_buckets(spark, tmp_path):
    """Flat deltas count toward each bucket's size: a fresh flat table
    whose buckets far exceed the target folds to several files a bucket."""
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=2, compact_every=10**9,
        cluster_deltas=False,
    )
    want = _lww_oracle(_fill(spark, sink, n=300, batches=2))
    assert not sink.file_lists()
    flat_bytes = sum(sink.manifest()["delta_bytes"].values())
    sink.compact(spark, target_file_bytes=flat_bytes // 8)
    assert _state(spark, sink) == want
    files = sink.file_lists()
    assert len(files) == 2 and all(len(fs) > 1 for fs in files.values()), files


def test_fold_after_schema_evolution(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4, compact_every=10**9)
    _fill(spark, sink, n=20, batches=2)
    wide = spark.createDataFrame(
        [("U", "c1", 1, "user", "wide", None, _ts(9), 9001, 0, 0.5)],
        "op string, conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, seq long, src_partition int, quality double",
    )
    sink.merge(wide, "b-wide")

    def state():
        return sorted(
            tuple(r)
            for r in sink.read(spark).select("conv_id", "turn_idx", "text", "quality").collect()
        )

    before = state()
    sink.compact(spark)
    assert state() == before
    got = {(r["conv_id"], r["turn_idx"]): r["quality"] for r in sink.read(spark).collect()}
    assert got[("c1", 1)] == pytest.approx(0.5)
    assert got[("c2", 2)] is None


def test_table_recording_removed_delta_compression_still_opens(spark, tmp_path):
    """Tables written while ``delta_compression`` was a table property
    still open: the recorded key is ignored, and new deltas take the
    session writer."""
    path = str(tmp_path / "t")
    sink = LocalSnapshotSink(path, num_buckets=2, compact_every=10**9)
    sink.merge(_batch(spark, [("I", "c1", 0, "user", "a", None, _ts(1), 1, 0)]), "m-0")
    head = sink._manifest_path(sink.current_snapshot_id)
    with open(head) as f:
        m = json.load(f)
    m["properties"] = {**(m.get("properties") or {}), "delta_compression": "lz4"}
    with open(head, "w") as f:
        json.dump(m, f)

    again = LocalSnapshotSink(path)
    assert again.properties() == {"delta_compression": "lz4"}
    again.merge(_batch(spark, [("U", "c1", 0, "user", "b", None, _ts(2), 2, 0)]), "m-1")
    deltas = [f for fs in again.delta_lists().values() for f in fs]
    assert len(deltas) == 2 and all(".lz4" not in f for f in deltas)
    assert [tuple(r) for r in again.read(spark).select("conv_id", "text").collect()] == [
        ("c1", "b")
    ]
    report = again.fsck(deep=True)
    assert report["ok"], report


def test_set_properties_rejects_delta_compression(tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2)
    with pytest.raises(ValueError, match="unknown table properties"):
        sink.set_properties(delta_compression="lz4")
    assert sink.properties() == {}


def _params(fn) -> list[str]:
    return sorted(p for p in inspect.signature(fn).parameters if p not in ("self", "spark"))


def test_sink_option_surface_is_pinned():
    """The sink's knobs, pinned: adding one is a visible edit here.  A
    removed knob fails loudly at the CLI's ``--sink-arg`` parser."""
    from fetchez_spark.cli import _parse_kv

    with pytest.raises(SystemExit, match="unknown arg 'compact_bucket_local'"):
        _parse_kv(["compact_bucket_local=true"], LocalSnapshotSink, check_required=False)
    with pytest.raises(SystemExit, match="unknown arg 'compact_min_dead_fraction'"):
        _parse_kv(
            ["compact_min_dead_fraction=0.5"], LocalSnapshotSink, check_required=False
        )
    assert _params(LocalSnapshotSink.__init__) == [
        "async_compact", "auto_compact_bytes", "base_schema", "branch",
        "cluster_deltas", "collect_metrics", "compact_every",
        "compact_min_bucket_bytes", "conflict_retries", "dedup_on_write", "expectations",
        "key", "late_tolerance_seconds", "max_committed_tokens", "merge_mode",
        "mode", "monotonic_tokens", "num_buckets", "row_ttl_seconds",
        "snapshot_keep_last", "sort_on_compact", "table_dir",
        "target_file_bytes", "tombstone_retention_seconds", "track_changes",
    ]
    assert _params(LocalSnapshotSink.compact) == [
        "bloom", "buckets", "cluster_by", "expire_rows_before",
        "min_bucket_bytes", "minor", "purge_tombstones_before", "sort", "target_file_bytes",
    ]


# ---------------------------------------------------------- footer key blooms
# compact(bloom=True) writes a parquet footer bloom of the leading key into
# its output files; an equality filter on the key (read(key_eq=) and
# lookup()) then skips the row groups whose bloom excludes the value.
# parquet-mr writes the bloom only for chunks that fell back from
# dictionary encoding, so these tables give every key one turn: a file's
# leading key is unique per row and its chunk is plain-encoded.


def _key_rows(lo, hi, h):
    """Keys c{lo}..c{hi-1}, one turn each, written at hour ``h``."""
    op = "I" if h == 1 else "U"
    return [
        (op, f"c{i:05d}", 0, "user", f"v{h}-{i}", None, _ts(h), h * 10**6 + i, 0)
        for i in range(lo, hi)
    ]


def _footer_blooms(spark, path) -> set[str]:
    """Columns of a parquet file that carry a bloom in some row group,
    read from the footer through parquet-mr (pyarrow does not expose
    bloom offsets)."""
    jvm = spark._jvm
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path), spark._jsc.hadoopConfiguration()
        )
    )
    try:
        out = set()
        blocks = reader.getFooter().getBlocks()
        for i in range(blocks.size()):
            cols = blocks.get(i).getColumns()
            for j in range(cols.size()):
                if cols.get(j).getBloomFilterOffset() >= 0:
                    out.add(cols.get(j).getPath().toDotString())
        return out
    finally:
        reader.close()


def _scan_rows(df) -> tuple[list[tuple], int]:
    """Collect ``df``; return its sorted rows and the rows its parquet
    scans output (after row-group pruning)."""
    rows = sorted(tuple(r) for r in df.collect())
    total = 0

    def walk(node):
        nonlocal total
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        if name == "FileSourceScanExec":
            total += node.metrics().apply("numOutputRows").value()
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return rows, total


def _bloom_table(spark, path, stage, bloom):
    """Two buckets of salted multi-file bases.  ``major``: the bloom rides
    the major fold; ``minor``: the bases are unbloomed and the bloom rides
    the minor fold of a second round of deltas."""
    sink = LocalSnapshotSink(path, num_buckets=2, compact_every=10**9)
    sink.merge(_batch(spark, _key_rows(0, 800, 1)), "b-1")
    sink.compact(
        spark, sort=False,
        target_file_bytes=sum(sink.manifest()["delta_bytes"].values()) // 8,
        bloom=bloom and stage == "major",
    )
    if stage == "minor":
        # every third key updated, 200 new keys
        rows = _key_rows(0, 800, 2)[::3] + _key_rows(800, 1000, 2)
        sink.merge(_batch(spark, rows), "b-2")
        sink.compact(spark, minor=True, bloom=bloom)
    return sink


@pytest.mark.parametrize("stage", ["major", "minor"])
def test_footer_bloom_lookups_match_unbloomed_copy(spark, tmp_path, stage):
    bloomed = _bloom_table(spark, str(tmp_path / "b"), stage, bloom=True)
    plain = _bloom_table(spark, str(tmp_path / "p"), stage, bloom=False)
    folded = (
        bloomed.file_lists() if stage == "major" else bloomed.delta_lists()
    )
    files = [f for fs in folded.values() for f in fs]
    assert len(bloomed.file_lists()["0"]) > 1  # salted: several files a bucket
    assert {c for f in files for c in _footer_blooms(spark, f)} == {"conv_id"}
    keys = ["c00000", "c00333", "c00601", "c00900", "c99999"]
    scanned = {"bloomed": 0, "plain": 0}
    for k in keys:
        for name, sink in (("bloomed", bloomed), ("plain", plain)):
            got, n = _scan_rows(sink.read(spark, key_eq=k).select(*_COLS))
            looked, m = _scan_rows(sink.lookup(spark, k).select(*_COLS))
            scanned[name] += n + m
            if name == "bloomed":
                want = got
            assert got == looked == want, (k, name)
        assert len(want) == (int(k[1:]) < (800 if stage == "major" else 1000))
    assert scanned["bloomed"] < scanned["plain"], scanned


def test_footer_bloom_on_long_key(spark, tmp_path):
    from pyspark.sql import types as T

    payload = T.StructType(
        [
            T.StructField("uid", T.LongType(), False),
            T.StructField("val", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )
    events = T.StructType(
        [T.StructField("op", T.StringType(), False), *payload.fields]
        + [
            T.StructField("seq", T.LongType(), False),
            T.StructField("src_partition", T.IntegerType(), False),
        ]
    )
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=2, key=["uid"], base_schema=payload,
        compact_every=10**9,
    )
    sink.merge(
        spark.createDataFrame(
            [("I", i, f"v{i}", _ts(1), i, 0) for i in range(400)], events
        ),
        "b-1",
    )
    sink.compact(
        spark, sort=False, bloom=True,
        target_file_bytes=sum(sink.manifest()["delta_bytes"].values()) // 6,
    )
    files = [f for fs in sink.file_lists().values() for f in fs]
    assert {c for f in files for c in _footer_blooms(spark, f)} == {"uid"}
    got, scanned = _scan_rows(sink.lookup(spark, 201).select("uid", "val"))
    assert got == [(201, "v201")]
    bucket_rows = max(
        spark.read.parquet(*fs).count() for fs in sink.file_lists().values()
    )
    assert scanned < bucket_rows
    assert sink.read(spark, key_eq=201).count() == 1
    assert sink.lookup(spark, 9999).count() == 0


def test_cli_maintain_bloom(spark, tmp_path, capsys):
    from fetchez_spark.cli import main

    path = str(tmp_path / "t")
    sink = LocalSnapshotSink(path, num_buckets=2, compact_every=10**9)
    sink.merge(_batch(spark, _key_rows(0, 300, 1)), "b-1")
    sink.merge(_batch(spark, _key_rows(300, 600, 1)), "b-2")
    assert main(["maintain", path, "--minor", "--bloom", "--cores", "2"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["minor_compact"]["minor"] is True
    deltas = [f for fs in sink.delta_lists().values() for f in fs]
    assert len(deltas) == 2
    assert all(_footer_blooms(spark, f) == {"conv_id"} for f in deltas)
    assert sink.lookup(spark, "c00042").count() == 1


def test_no_bloom_outside_bloom_folds(spark, tmp_path):
    """Delta files, CoW change sidecars and ``bloom=False`` fold outputs
    carry no bloom on any column, merges after a bloom fold included."""
    sink = LocalSnapshotSink(str(tmp_path / "mor"), num_buckets=2, compact_every=10**9)
    sink.merge(_batch(spark, _key_rows(0, 300, 1)), "b-1")
    unbloomed = [f for fs in sink.delta_lists().values() for f in fs]
    sink.compact(spark, bloom=True)
    sink.merge(_batch(spark, _key_rows(0, 300, 2)), "b-2")
    unbloomed += [f for fs in sink.delta_lists().values() for f in fs]
    sink.compact(spark)
    unbloomed += [f for fs in sink.file_lists().values() for f in fs]
    flat = LocalSnapshotSink(
        str(tmp_path / "flat"), num_buckets=2, compact_every=10**9,
        cluster_deltas=False,
    )
    flat.merge(_batch(spark, _key_rows(0, 300, 1)), "b-1")
    unbloomed += [f for fs in flat.delta_lists().values() for f in fs]
    cow = LocalSnapshotSink(
        str(tmp_path / "cow"), num_buckets=2, compact_every=10**9, mode="cow"
    )
    cow.merge(_batch(spark, _key_rows(0, 300, 1)), "b-1")
    cow.merge(_batch(spark, _key_rows(0, 300, 2)), "b-2")
    unbloomed += [f for fs in cow.file_lists().values() for f in fs]
    unbloomed += cow._resolve_list(cow.manifest()["change_files"])
    assert len(unbloomed) >= 8
    assert {f: b for f in unbloomed if (b := _footer_blooms(spark, f))} == {}


def test_table_recording_removed_key_blooms_still_opens(spark, tmp_path):
    """Tables whose manifest recorded the removed ``key_blooms`` sidecar
    still open, look up, stay fsck-clean and expire: nothing reads the
    key, the first commit on top drops it, and expiry then deletes its
    blob."""
    path = str(tmp_path / "t")
    sink = LocalSnapshotSink(path, num_buckets=2, compact_every=10**9)
    sink.merge(_batch(spark, _key_rows(0, 100, 1)), "b-1")
    sink.compact(spark, minor=True)
    head = sink._manifest_path(sink.current_snapshot_id)
    with open(head) as f:
        m = json.load(f)
    # a sidecar that claims every delta file excludes every key: a reader
    # that still honoured it would return nothing
    files = [f for fs in sink.delta_lists().values() for f in fs]
    m["key_blooms"] = sink._pack_blob(
        {f: {"m": 1024, "k": 7, "b64": "A" * 172} for f in files}
    )
    with open(head, "w") as f:
        json.dump(m, f)

    again = LocalSnapshotSink(path)
    for k in ("c00000", "c00042", "c00099"):
        assert again.lookup(spark, k).count() == 1
        assert again.read(spark, key_eq=k).count() == 1
    again.merge(_batch(spark, _key_rows(0, 100, 2)), "b-2")
    assert "key_blooms" not in again.manifest()
    again.compact(spark, bloom=True)
    assert again.lookup(spark, "c00042").select("text").first()[0] == "v2-42"
    blob = os.path.join(again._lists_dir(), m["key_blooms"][len("ref:"):])
    assert os.path.exists(blob)
    again.expire_snapshots(keep_last=1, min_age_seconds=0)
    assert not os.path.exists(blob)
    assert again.read(spark).count() == 100
    report = again.fsck(deep=True)
    assert report["ok"], report


# ------------------------------------------- recorded multi-version buckets
# The retired live-fraction fold (compact(min_dead_fraction=t)) kept mostly
# live base files verbatim beside the fold's output and recorded their
# buckets in ``mv_buckets``: such a bucket's base files may hold superseded
# rows.  Tables it wrote must keep reading exactly.


def test_table_recording_mv_buckets_reads_counts_and_folds_exactly(spark, tmp_path):
    from pyspark.sql import types as T

    payload = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("v", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def merge(rows, token):
        sink.merge(
            spark.createDataFrame(
                [(op, c, tx, v, _ts(1, s % 60), s, 0) for op, c, tx, v, s in rows],
                "op string, conv_id string, text string, v long, ts timestamp, "
                "seq long, src_partition int",
            ),
            token,
        )

    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=4, key=["conv_id"], base_schema=payload,
        compact_every=10**9,
    )
    merge([("I", f"c{i}", f"t{i}", i, i) for i in range(100)], "b0")
    sink.compact(spark, cluster_by=["v"])
    merge([("U", "c1", "up", 999, 500)], "b1")
    # the state that fold committed: the bucket's superseded base file
    # stays beside the file holding its winner, which has its own
    # col_stats range; the bucket is recorded in mv_buckets and has no
    # bucket_rows entry
    cur = sink.manifest()
    (b, (winner,)), = ((k, v) for k, v in sink.delta_lists().items() if v)
    files = sink.file_lists()
    files[b] = files[b] + [winner]
    cs = {**sink.col_stats(cur), winner: {"v": [999, 999]}}
    brm = {k: v for k, v in cur["bucket_rows"].items() if k != b}
    sink._commit(
        sink._child_manifest(
            cur, sink._next_sid(cur), {"compacted_buckets": 1, "delta_commits": 0},
            files=sink._pack_maps(files)[0], deltas={}, delta_bytes={},
            col_stats=sink._pack_key_stats(cs), bucket_rows=brm, mv_buckets=[b],
        )
    )
    old_files = set(files[b])

    want = {(f"c{i}", f"t{i}", i) for i in range(100)} - {("c1", "t1", 1)}
    want |= {("c1", "up", 999)}

    def state(**kw):
        return {
            tuple(r)
            for r in sink.read(spark, **kw).select("conv_id", "text", "v").collect()
        }

    assert state() == want
    # slab reads: the superseded c1 row (v=1) lies in the slab, its winner
    # (v=999) in a file whose range excludes the slab
    assert state(range_hints={"v": (0, 5)}) == {w for w in want if w[2] <= 5}
    assert state(range_hints={"v": (990, 1000)}) == {("c1", "up", 999)}
    assert sink.lookup(spark, "c1").select("v").first()[0] == 999
    assert sink.count_rows(spark) == sink.read(spark).count() == 100
    with pytest.raises(ValueError, match="not metadata-answerable"):
        sink.count_rows(None)

    # a plain fold with no pending deltas still folds the recorded bucket
    out = sink.compact(spark)
    assert out["compacted_buckets"] >= 1
    assert not sink.manifest().get("mv_buckets")
    assert not set(sink.file_lists()[b]) & old_files
    assert state() == want
    assert sink.count_rows(None) == 100
