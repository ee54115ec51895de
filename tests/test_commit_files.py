"""What one commit leaves on disk: its data files, one manifest and at
most one file-list blob.

A commit packs every bucket list it changed into one content-addressed
blob (``ref:list-<sha1>.json#<bucket>``), table data dirs carry no
``_SUCCESS`` markers, and a flat write is sized from its plan's byte
estimate: a small batch -- many small input files or a small in-memory
frame -- is written as few files as Spark's per-file open cost allows.
Tables written in the older per-bucket-blob and inline encodings keep
reading, passing fsck, expiring and cloning.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import json
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from fetchez_spark.changegen import ChangeLogSpec, write_change_log
from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink, open_cost_partitions
from fetchez_spark.streaming.engine import replay_batches

UTC = dt.timezone.utc
_TOOL = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "file_census.py")


def _census_tool():
    spec = importlib.util.spec_from_file_location("file_census", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _census(path: str) -> dict[str, int]:
    return {k: v["files"] for k, v in _census_tool().census(path).items()}


_DDL = (
    "op string, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, seq long"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, _DDL)


def _pandas_batch(spark, rows):
    """A pandas-created frame: a local relation whose size the plan knows,
    split over the session's default parallelism."""
    cols = [c.split()[0] for c in _DDL.split(", ")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), _DDL)


def _rows(n: int, start: int = 0, convs: int = 64):
    t0 = dt.datetime(2025, 1, 1, tzinfo=UTC)
    return [
        ("I", f"c{i % convs}", i // convs, "user", f"t{i}", None,
         t0 + dt.timedelta(seconds=i), i)
        for i in range(start, start + n)
    ]


def _blobs(sink) -> set[str]:
    d = sink._lists_dir()
    return {f for f in os.listdir(d) if f.startswith("list-")} if os.path.isdir(d) else set()


def _state(sink, spark) -> set[tuple]:
    return {(r["conv_id"], r["turn_idx"], r["text"]) for r in sink.read(spark).collect()}


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    """A 3-batch flat-delta replay with a fold after batch 2 and a
    closing compact(), over 16 buckets."""
    root = tmp_path_factory.mktemp("replay")
    files = write_change_log(
        ChangeLogSpec(num_events=3000, num_convs=150, seed=5), str(root / "log"), num_chunks=6
    )
    sink = LocalSnapshotSink(
        str(root / "t"), num_buckets=16, cluster_deltas=False, compact_every=2,
        async_compact=False,
    )
    replay_batches(spark, [files[0:2], files[2:4], files[4:6]], sink)
    sink.compact(spark)
    return sink


def test_replay_file_census(replayed):
    # 3 merges of one flat file each, a 16-bucket fold, a 16-bucket
    # closing compact: 35 data files, each with its .crc; one manifest
    # and one list blob per commit (root + 5); one claim per data dir
    assert _census(replayed.table_dir) == {
        "parquet": 35,
        "crc": 35,
        "_SUCCESS": 0,
        "CLAIM.json": 5,
        "manifest": 6,
        "list blob": 5,
        "other": 2,  # VERSION and COMMIT.lock
    }


def test_small_commit_file_census(spark, tmp_path):
    # a 500-row in-memory merge into a compacted flat table adds one data
    # file (not one per core), its .crc, its claim, one manifest and one
    # list blob
    assert spark.sparkContext.defaultParallelism >= 2
    sink = _flat_sink(tmp_path, "t")
    sink.merge(_pandas_batch(spark, _rows(500)), "b1")
    sink.compact(spark)
    before = _census(sink.table_dir)
    sink.merge(_pandas_batch(spark, _rows(500, start=500)), "b2")
    after = _census(sink.table_dir)
    assert {k: after[k] - before[k] for k in after} == {
        "parquet": 1,
        "crc": 1,
        "_SUCCESS": 0,
        "CLAIM.json": 1,
        "manifest": 1,
        "list blob": 1,
        "other": 0,
    }


def test_no_success_markers_in_data_dirs(replayed):
    data = os.path.join(replayed.table_dir, "data")
    found = [
        os.path.join(d, f)
        for d, _, names in os.walk(data)
        for f in names
        if "_SUCCESS" in f
    ]
    assert found == []


def test_fold_commit_writes_one_list_blob(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=16, compact_every=10**9)
    sink.merge(_batch(spark, _rows(400)), "b1")
    assert len(sink.delta_lists()) == 16, "the batch touches every bucket"
    before = _blobs(sink)
    sink.compact(spark)
    new = _blobs(sink) - before
    assert len(new) == 1
    refs = set(sink.manifest()["files"].values())
    assert len(refs) == 16
    assert {r.split("#")[0] for r in refs} == {f"ref:{b}" for b in new}


def test_pack_maps_one_blob_for_all_maps(tmp_path):
    """A fold that keeps late deltas in a bucket it rewrote holds two
    different lists for one bucket: both land in the one pack."""
    sink = LocalSnapshotSink.__new__(LocalSnapshotSink)
    sink.table_dir = str(tmp_path / "t")
    sink._list_cache = {}
    files, deltas = sink._pack_maps(
        {"0": ["b.parquet", "a.parquet"], "1": "ref:list-old.json#1", "2": []},
        {"0": ["late.parquet"], "3": ["a.parquet", "b.parquet"]},
    )
    assert files["1"] == "ref:list-old.json#1" and files["2"] == []
    assert len({r.split("#")[0] for r in (files["0"], deltas["0"], deltas["3"])}) == 1
    assert files["0"] != deltas["0"]
    assert len(_blobs(sink)) == 1
    sink._list_cache = {}  # resolve from disk
    assert sink._resolve_list(files["0"]) == ["a.parquet", "b.parquet"]
    assert sink._resolve_list(deltas["0"]) == ["late.parquet"]
    assert sink._resolve_list(deltas["3"]) == ["a.parquet", "b.parquet"]


def _to_seed_format(sink) -> None:
    """Rewrite every manifest in the older encodings: even buckets as
    per-bucket list blobs, odd buckets as inline lists."""
    for sid in sink.snapshots():
        path = sink._manifest_path(sid)
        with open(path) as f:
            m = json.load(f)
        for field in ("files", "deltas"):
            m[field] = {
                b: (sink._pack_list(fs) if int(b) % 2 == 0 else fs)
                for b, fs in sink._resolve_map(m.get(field, {})).items()
            }
        with open(path, "w") as f:
            json.dump(m, f)


def test_seed_format_table_reads_fscks_expires_and_clones(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4, compact_every=10**9)
    for i in range(4):
        sink.merge(_batch(spark, _rows(12, start=12 * i, convs=8)), f"b{i}")
    want = _state(sink, spark)
    packs = _blobs(sink)
    _to_seed_format(sink)
    assert all(
        not isinstance(v, str) or "#" not in v
        for m in map(sink.manifest, sink.snapshots())
        for v in list(m["files"].values()) + list(m["deltas"].values())
    )
    sink._list_cache.clear()
    old = LocalSnapshotSink(str(tmp_path / "t"))
    assert _state(old, spark) == want
    assert old.fsck()["ok"]

    # a new commit on top: the touched bucket and the inline lists move
    # into the commit's one pack; untouched per-bucket blob refs stay
    prev = old.manifest()["deltas"]
    old.merge(_batch(spark, [("I", "c0", 99, "user", "new", None,
                              dt.datetime(2025, 2, 1, tzinfo=UTC), 999)]), "b-new")
    want.add(("c0", 99, "new"))
    head = old.manifest()["deltas"]
    refs = [v for v in head.values() if isinstance(v, str)]
    live = {r[len("ref:"):].split("#")[0] for r in refs}
    assert len({r.split("#")[0] for r in refs if "#" in r}) == 1
    assert all("#" in head[b] for b, v in prev.items() if isinstance(v, list))
    moved = [b for b, v in prev.items() if isinstance(v, str) and head[b] != v]
    assert len(moved) <= 1, "only the touched bucket leaves its blob"
    assert any("#" not in r for r in refs), "a per-bucket blob stays live"
    before = _blobs(old)
    assert before - live, "older commits left blobs only they reference"

    old.expire_snapshots(keep_last=1, min_age_seconds=0)
    after = _blobs(old)
    assert after == live, "GC keeps exactly the blobs and packs the head names"
    assert not packs & after
    assert _state(old, spark) == want
    assert old.fsck()["ok"]

    clone = old.clone_to(str(tmp_path / "c"))
    assert _state(clone, spark) == want
    assert clone.fsck()["ok"]
    assert all("#" in v for v in clone.manifest()["deltas"].values() if isinstance(v, str))


def test_missing_pack_blob_is_an_fsck_error(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4, compact_every=10**9)
    sink.merge(_batch(spark, _rows(40)), "b1")
    ref = next(v for v in sink.manifest()["deltas"].values() if isinstance(v, str))
    assert "#" in ref
    os.remove(os.path.join(sink._lists_dir(), ref[len("ref:"):].split("#")[0]))
    report = sink.fsck()
    assert not report["ok"]
    assert any("blob missing" in e for e in report["errors"])


def _flat_sink(tmp_path, name):
    return LocalSnapshotSink(
        str(tmp_path / name), num_buckets=16, cluster_deltas=False, compact_every=10**9
    )


def _flat_files(sink) -> list[str]:
    return sink.delta_lists()["*"]


def test_small_file_scan_batch_writes_one_flat_file(spark, tmp_path):
    files = write_change_log(
        ChangeLogSpec(num_events=2000, num_convs=100, seed=3), str(tmp_path / "log"), num_chunks=4
    )
    batch = spark.read.parquet(*files)
    assert batch.rdd.getNumPartitions() > 1
    sink = _flat_sink(tmp_path, "t")
    replay_batches(spark, [files], sink)
    assert len(_flat_files(sink)) == 1


def test_small_pandas_batch_writes_one_flat_delta(spark, tmp_path):
    batch = _pandas_batch(spark, _rows(500))
    assert batch.rdd.getNumPartitions() >= 2, "one partition per core"
    sink = _flat_sink(tmp_path, "t")
    metrics = sink.merge(batch, "b1")
    assert len(_flat_files(sink)) == 1
    assert metrics["files_written"] == 1


def test_small_cow_merge_writes_one_change_sidecar(spark, tmp_path):
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=4, mode="cow", track_changes=True
    )
    metrics = sink.merge(_pandas_batch(spark, _rows(500)), "b1")
    sidecars = sink._resolve_list(sink.manifest()["change_files"])
    assert len(sidecars) == 1
    assert metrics["files_written"] == 1 + len(sink.files())


def test_open_cost_partitions_unknown_for_python_rows(spark):
    batch = _batch(spark, _rows(60))
    assert open_cost_partitions(batch) is None
    # a projection scales the unknown estimate below the default size;
    # the plan's leaf still does not know its size
    assert open_cost_partitions(batch.select("conv_id")) is None


def test_open_cost_partitions_of_a_scan_is_its_file_bytes(spark, replayed):
    files = sorted(r["path"] for r in replayed.files())
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        n = open_cost_partitions(spark.read.parquet(*files))
    finally:
        spark.conf.set(key, old)
    total = sum(os.path.getsize(f) for f in files)
    assert n == -(-total // (16 * 1024)) > 1


def test_created_batch_keeps_its_partitions(spark, tmp_path):
    batch = _batch(spark, _rows(60)).repartition(3)
    sink = _flat_sink(tmp_path, "t")
    sink.merge(batch, "b1")
    assert len(_flat_files(sink)) == 3


def test_batch_above_open_cost_keeps_its_partitions(spark, tmp_path):
    files = write_change_log(
        ChangeLogSpec(num_events=2000, num_convs=100, seed=4), str(tmp_path / "log"), num_chunks=4
    )
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    # an open cost far below one input file: every scan partition holds
    # many open costs of input, so the write keeps the scan's partitions
    spark.conf.set(key, "1k")
    try:
        batch = spark.read.parquet(*files)
        parts = batch.rdd.getNumPartitions()
        assert parts > 1
        sink = _flat_sink(tmp_path, "t")
        sink.merge(batch, "b1")
        assert len(_flat_files(sink)) == parts
    finally:
        spark.conf.set(key, old)


def test_column_census_reports_bytes_and_dictionary_chunks(tmp_path, capsys):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"role": ["user", "tool"] * 50, "text": [f"t{i}" for i in range(100)]})
    for i in range(2):
        d = tmp_path / f"_bucket={i}"
        d.mkdir()
        pq.write_table(table, str(d / "part-0.parquet"), use_dictionary=["role"])
    (tmp_path / "VERSION").write_text("snap-1")
    tool = _census_tool()
    cols = tool.column_census(str(tmp_path))
    assert list(cols) == ["role", "text"]
    assert cols["role"]["chunks"] == 2 and cols["role"]["dict_chunks"] == 2
    assert cols["text"]["chunks"] == 2 and cols["text"]["dict_chunks"] == 0
    meta = pq.read_metadata(str(tmp_path / "_bucket=0" / "part-0.parquet"))
    assert cols["text"]["bytes"] == 2 * meta.row_group(0).column(1).total_compressed_size
    assert tool.main(["--columns", str(tmp_path)]) == 0
    out = capsys.readouterr().out.split("\n")
    assert out[2].split() == ["role", str(cols["role"]["bytes"]), "2", "2"]
    assert out[3].split() == ["text", str(cols["text"]["bytes"]), "2", "0"]


_LWW = ["conv_id", "turn_idx", "ts", "_seq"]


def _runs(path: str) -> int:
    return _census_tool().sorted_runs(path, _LWW)[1]


def _merge_files(sink) -> list[str]:
    """The data files the table's merges wrote: every parquet file outside
    a fold's ``_bucket=`` directories."""
    root = os.path.join(sink.table_dir, "data")
    return sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(root)
        for f in names
        if f.endswith(".parquet") and "_bucket=" not in d
    )


def _reversed_batch(spark, n: int = 600):
    """Three versions of each key (an insert, an update, a delete of
    every fifth key) arriving in descending key order, newest first."""
    t0 = dt.datetime(2025, 1, 1, tzinfo=UTC)
    rows = [
        (op, f"c{k % 12:02d}", k // 12, "user", f"t{k}-{v}", None,
         t0 + dt.timedelta(seconds=v), 3 * k + v)
        for k in range(n // 3)
        for v, op in enumerate(["I", "U", "D" if k % 5 == 0 else "U"])
    ]
    rows.sort(key=lambda r: (r[1], r[2], r[6]), reverse=True)
    return _pandas_batch(spark, rows), rows


def _lww_oracle(rows) -> set[tuple]:
    last: dict[tuple, tuple] = {}
    for r in rows:
        k = (r[1], r[2])
        if k not in last or (r[6], r[7]) > (last[k][6], last[k][7]):
            last[k] = r
    return {(r[1], r[2], r[4]) for r in last.values() if r[0] != "D"}


def test_every_flat_delta_file_is_one_sorted_run(spark, replayed, tmp_path):
    # flat deltas: the replay's three merges
    flat = _merge_files(replayed)
    assert len(flat) == 3
    # CoW change sidecar
    cow = LocalSnapshotSink(str(tmp_path / "cow"), num_buckets=4, mode="cow", track_changes=True)
    cow.merge(_reversed_batch(spark)[0], "b1")
    sidecars = cow._resolve_list(cow.manifest()["change_files"])
    assert len(sidecars) == 1
    for f in flat + sidecars:
        assert _runs(f) == 1, f


def test_reverse_order_batch_writes_sorted_delta(spark, tmp_path):
    batch, rows = _reversed_batch(spark)
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=4, cluster_deltas=False, compact_every=10**9
    )
    sink.merge(batch, "b1")
    deltas = [f for fs in sink.delta_lists().values() for f in fs]
    assert len(deltas) == 1 and _runs(deltas[0]) == 1
    assert sum(pq.read_metadata(f).num_rows for f in deltas) == len(rows)
    assert _state(sink, spark) == _lww_oracle(rows)
    sink.compact(spark)
    assert _state(sink, spark) == _lww_oracle(rows)


def test_replay_deltas_are_smaller_than_arrival_order(spark, replayed, tmp_path):
    # the same rows, through the same delta writer, in the order the
    # merge reads them from the log
    from fetchez_spark.operators.merge import batch_to_target_rows

    log = os.path.join(os.path.dirname(replayed.table_dir), "log")
    files = [os.path.join(log, f) for f in sorted(os.listdir(log))]
    schema = [f.name for f in replayed.schema(include_internal=True).fields]
    arrival = 0
    for i in range(3):
        rows = batch_to_target_rows(spark.read.parquet(*files[2 * i : 2 * i + 2]))
        out = str(tmp_path / str(i))
        replayed._delta_writer(rows.select(*schema).coalesce(1)).parquet(out)
        arrival += sum(
            os.path.getsize(os.path.join(out, n)) for n in os.listdir(out) if n.endswith(".parquet")
        )
    assert max(_runs(os.path.join(tmp_path / "0", n)) for n in os.listdir(tmp_path / "0")
               if n.endswith(".parquet")) > 1, "arrival order is not already sorted"
    sorted_bytes = sum(os.path.getsize(f) for f in _merge_files(replayed))
    assert sorted_bytes < arrival, (sorted_bytes, arrival)


def test_sorted_runs_counts_descents(tmp_path, capsys):
    import pyarrow as pa

    table = pa.table({
        "k": ["a", "a", "b", "a", None, "c"],
        "v": [1, 1, 0, 2, 9, 0],
    })
    pq.write_table(table, str(tmp_path / "part-0.parquet"))
    pq.write_table(table.slice(0, 3), str(tmp_path / "part-1.parquet"))
    pq.write_table(table.slice(0, 0), str(tmp_path / "part-2.parquet"))
    tool = _census_tool()
    # ties continue a run; b->a and a->null (nulls first) start new ones
    assert tool.sorted_runs(str(tmp_path / "part-0.parquet"), ["k", "v"]) == (6, 3)
    assert tool.sorted_runs(str(tmp_path / "part-0.parquet"), ["v"]) == (6, 3)
    assert tool.sorted_runs(str(tmp_path / "part-1.parquet"), ["k", "v"]) == (3, 1)
    assert tool.sorted_runs(str(tmp_path / "part-2.parquet"), ["k"]) == (0, 0)
    assert tool.main(["--runs", "k,v", str(tmp_path)]) == 0
    out = capsys.readouterr().out.split("\n")
    assert [ln.split() for ln in out[2:5]] == [
        ["part-0.parquet", "6", "3"], ["part-1.parquet", "3", "1"], ["part-2.parquet", "0", "0"],
    ]
    assert tool.main(["--runs", "k"]) == 2
