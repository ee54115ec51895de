"""Per-file statistics: one parquet-footer reader behind every manifest stat.

``key_stats`` (sorted folds, ``rebucket(sort=True)``,
``import_files(collect_stats=True)``), ``col_stats`` (z-order folds),
``ts_stats_new`` (merges and imports) and ``bucket_rows`` (major folds)
all come from ``LocalSnapshotSink._footer_stats``.  These tests hold each
recorded value against an independent Spark ``groupBy(input_file_name())``
aggregate over the same files, pin the values an equivalent log recorded
before the reader existed, count the Spark jobs a sorted fold launches,
and check that files with stripped or unreadable statistics are kept and
read exactly.  A static check keeps footer statistics behind the one
reader.
"""

from __future__ import annotations

import ast
import datetime as dt
import uuid
from pathlib import Path
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import fetchez_spark
from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

UTC = dt.timezone.utc
T0 = dt.datetime(2025, 4, 1, tzinfo=UTC)


def _ts(s: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=s)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "op string, conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, seq long, src_partition int",
    )


def _log(spark, sink, n=200, batches=3, deletes=True) -> None:
    """``batches`` merges over ``n`` keys: inserts, then updates, with
    every 7th key deleted in the last batch (updated instead without
    ``deletes``); ts spreads per key."""
    for b in range(batches):
        last = b == batches - 1
        rows = [
            (
                "D" if deletes and last and i % 7 == 0 else ("U" if b else "I"),
                f"c{i:04d}", i % 5, "user", f"v{b}-{i}", None,
                _ts(3600 * b + 7 * i), b * 10_000 + i, 0,
            )
            for i in range(n)
        ]
        sink.merge(_batch(spark, rows), f"b-{b}")


_LONG_PAYLOAD = T.StructType(
    [
        T.StructField("uid", T.LongType(), False),
        T.StructField("val", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)
_LONG_EVENTS = T.StructType(
    [T.StructField("op", T.StringType(), False), *_LONG_PAYLOAD.fields]
    + [
        T.StructField("seq", T.LongType(), False),
        T.StructField("src_partition", T.IntegerType(), False),
    ]
)


def _sink(spark, tmp_path, keys: str, name: str = "t") -> LocalSnapshotSink:
    """A two-batch table keyed by a string (``conv_id``) or a long
    (``uid``) leading key."""
    if keys == "string":
        sink = LocalSnapshotSink(
            str(tmp_path / name), num_buckets=2, compact_every=10**9
        )
        _log(spark, sink, batches=2)
        return sink
    sink = LocalSnapshotSink(
        str(tmp_path / name), num_buckets=2, key=["uid"],
        base_schema=_LONG_PAYLOAD, compact_every=10**9,
    )
    for b in range(2):
        sink.merge(
            spark.createDataFrame(
                [("I", (i * 7919) % 100_003, f"v{b}", _ts(i), b * 1000 + i, 0)
                 for i in range(400)],
                _LONG_EVENTS,
            ),
            f"b-{b}",
        )
    return sink


def _path(uri: str) -> str:
    return unquote(urlparse(uri).path) if "://" in uri else uri


def _oracle(spark, files: list[str], cols: list[str]) -> dict[str, dict]:
    """The reference: per-file min/max of ``cols`` from one Spark
    ``groupBy(input_file_name())`` aggregate over the files' rows,
    temporal bounds as ISO strings (Spark collects local naive time)."""
    aggs = [a for c in cols for a in (F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}"))]
    rows = (
        spark.read.parquet(*files)
        .groupBy(F.input_file_name().alias("_f"))
        .agg(*aggs)
        .collect()
    )

    def js(v):
        return str(v) if isinstance(v, dt.date) else v

    return {
        _path(r["_f"]): {c: [js(r[f"lo_{c}"]), js(r[f"hi_{c}"])] for c in cols}
        for r in rows
    }


def _base_files(sink) -> list[str]:
    return [f for fs in sink.file_lists().values() for f in fs]


# ------------------------------------------------------------- key_stats
@pytest.mark.parametrize("keys", ["string", "long"])
def test_sorted_compact_key_stats_equal_spark_oracle(spark, tmp_path, keys):
    sink = _sink(spark, tmp_path, keys)
    target = sum(sink.manifest()["delta_bytes"].values()) // 8
    sink.compact(spark, sort=True, target_file_bytes=target)
    files = _base_files(sink)
    k0 = sink.key[0]
    want = {f: e[k0] for f, e in _oracle(spark, files, [k0]).items()}
    assert len(files) > 2 and set(want) == set(files)
    assert sink.key_stats() == want


def test_sorted_rebucket_key_stats_equal_spark_oracle(spark, tmp_path):
    sink = _sink(spark, tmp_path, "string")
    sink.compact(spark)
    sink.rebucket(spark, 4, sort=True)
    files = _base_files(sink)
    want = {f: e["conv_id"] for f, e in _oracle(spark, files, ["conv_id"]).items()}
    assert len(files) >= 4
    assert sink.key_stats() == want


def _external(tmp_path, name, rows, write_statistics=True) -> str:
    """A foreign parquet file written by pyarrow, as an external writer
    would; ``write_statistics`` may strip some or all footer stats."""
    path = str(tmp_path / f"{name}.parquet")
    table = pa.table(
        {
            "conv_id": pa.array([r[0] for r in rows], pa.string()),
            "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
            "role": pa.array(["user"] * len(rows), pa.string()),
            "text": pa.array([r[2] for r in rows], pa.string()),
            "tool": pa.array([None] * len(rows), pa.string()),
            "ts": pa.array([r[3] for r in rows], pa.timestamp("us", tz="UTC")),
        }
    )
    pq.write_table(table, path, write_statistics=write_statistics)
    return path


def test_import_collect_stats_key_stats_equal_spark_oracle(spark, tmp_path):
    sink = _sink(spark, tmp_path, "string")
    ext = tmp_path / "ext"
    ext.mkdir()
    files = [
        _external(ext, f"part{j}", [(f"e{j}{i:03d}", i % 3, "x", _ts(i)) for i in range(50)])
        for j in range(3)
    ]
    sink.import_files(spark, files, collect_stats=True)
    want = {f: e["conv_id"] for f, e in _oracle(spark, files, ["conv_id"]).items()}
    assert len(want) == 3
    assert sink.key_stats() == want


# ------------------------------------------------------------- col_stats
def test_cluster_by_col_stats_equal_spark_oracle(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2, compact_every=10**9)
    _log(spark, sink, batches=2)
    sink.compact(
        spark, cluster_by=["turn_idx", "ts"],
        target_file_bytes=sum(sink.manifest()["delta_bytes"].values()) // 6,
    )
    files = _base_files(sink)
    want = _oracle(spark, files, ["turn_idx", "ts"])
    assert len(files) > 2 and set(want) == set(files)
    assert sink.col_stats() == want


# ------------------------------------- ts_stats_new and bucket_rows pins
# What the same log recorded before the one footer reader existed (the
# per-file ts range and tombstone flag of every merge's files, and the
# per-bucket row and tombstone counts of the fold after it).
_PINNED_TS_STATS = [
    ("2025-04-01T00:00:00+00:00", "2025-04-01T00:23:13+00:00", False),
    ("2025-04-01T00:01:03+00:00", "2025-04-01T00:22:38+00:00", False),
    ("2025-04-01T01:00:00+00:00", "2025-04-01T01:23:13+00:00", False),
    ("2025-04-01T01:01:03+00:00", "2025-04-01T01:22:38+00:00", False),
    ("2025-04-01T02:00:00+00:00", "2025-04-01T02:23:13+00:00", True),
    ("2025-04-01T02:01:03+00:00", "2025-04-01T02:22:38+00:00", True),
]
_PINNED_BUCKET_ROWS = {"0": (100, 19), "1": (100, 10)}


def _utc(iso: str) -> str:
    return dt.datetime.fromisoformat(iso).astimezone(UTC).isoformat()


def test_ts_stats_and_bucket_rows_keep_recorded_values(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2, compact_every=10**9)
    _log(spark, sink)
    merges = [sink.manifest(s) for s in sink.snapshots()]
    recorded = {
        f: e
        for m in merges
        for f, e in (
            sink._resolve_blob(m["ts_stats_new"])
            if isinstance(m.get("ts_stats_new"), str)
            else m.get("ts_stats_new") or {}
        ).items()
    }
    assert sorted((_utc(a), _utc(b), d) for a, b, d in recorded.values()) == _PINNED_TS_STATS
    # and against the Spark oracle, file by file
    want = _oracle(spark, list(recorded), ["ts", "_deleted"])
    assert recorded == {
        f: [*e["ts"], bool(e["_deleted"][1])] for f, e in want.items()
    }

    sink.compact(spark)
    got = {b: (e["rows"], e["dead"]) for b, e in sink.manifest()["bucket_rows"].items()}
    assert got == _PINNED_BUCKET_ROWS
    for b, fs in sink.file_lists().items():
        df = spark.read.parquet(*fs)
        assert got[b] == (df.count(), df.filter("_deleted").count())
    assert sink.count_rows() == sink.read(spark).count()


# ----------------------------------------------------------- Spark jobs
def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"file-stats-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sorted_fold_launches_no_stats_job(spark, tmp_path):
    """Key ranges come from the written footers: a sorted fold launches
    at most the one job its sorted write adds over the same fold
    unsorted (the key-range aggregate it replaced added three more)."""
    plain = _sink(spark, tmp_path, "string", "plain")
    sorted_ = _sink(spark, tmp_path, "string", "sorted")
    n_plain = _jobs(spark, lambda: plain.compact(spark, sort=False))
    n_sorted = _jobs(spark, lambda: sorted_.compact(spark, sort=True))
    assert sorted_.key_stats() and not plain.key_stats()
    assert 0 < n_sorted <= n_plain + 1


def test_fold_counts_tombstones_without_a_spark_job(spark, tmp_path):
    """A fold reads the tombstone counts of the files it wrote from their
    ``_deleted`` column on the driver: folding a log with deletes
    launches as many jobs as folding the same log without them (a Spark
    count over the written files added three)."""
    sinks = {}
    for deletes in (True, False):
        sink = LocalSnapshotSink(
            str(tmp_path / str(deletes)), num_buckets=2, compact_every=10**9
        )
        _log(spark, sink, deletes=deletes)
        n = _jobs(spark, lambda: sink.compact(spark))
        sinks[deletes] = (sink, n)
    dead = {b: e["dead"] for b, e in sinks[True][0].manifest()["bucket_rows"].items()}
    live = {b: e["dead"] for b, e in sinks[False][0].manifest()["bucket_rows"].items()}
    assert dead == {b: d for b, (_, d) in _PINNED_BUCKET_ROWS.items()}
    assert live == {"0": 0, "1": 0}
    assert sinks[True][1] == sinks[False][1] > 0


# ---------------------------------------- stripped or unreadable stats
def test_files_without_footer_stats_are_kept_and_read_exactly(spark, tmp_path):
    sink = _sink(spark, tmp_path, "string")
    ext = tmp_path / "ext"
    ext.mkdir()
    full = _external(ext, "full", [(f"a{i:03d}", 0, "full", _ts(10_000 + i)) for i in range(20)])
    no_key = _external(
        ext, "nokey", [(f"m{i:03d}", 0, "nokey", _ts(10_000 + i)) for i in range(20)],
        write_statistics=["ts"],
    )
    bare = _external(
        ext, "bare", [(f"z{i:03d}", 0, "bare", _ts(20_000 + i)) for i in range(20)],
        write_statistics=False,
    )
    base = sink.current_snapshot_id
    sink.import_files(spark, [full, no_key, bare], collect_stats=True)
    ks = sink.key_stats()
    assert full in ks and no_key not in ks and bare not in ks
    assert set(sink.manifest()["ts_stats_new"]) == {full, no_key}
    # a point read keeps the files it knows nothing about
    for key, text in (("m005", "nokey"), ("z005", "bare"), ("a005", "full")):
        assert [r["text"] for r in sink.lookup(spark, key).collect()] == [text]
    m = sink.manifest()
    assert set(sink._prune_by_key_stats(m, [full, no_key, bare], "m005")) == {no_key, bare}
    # a window read keeps the stat-less file and filters its rows exactly
    win = sink.read_changes(spark, base, ts_min=_ts(20_000), ts_max=_ts(20_010))
    assert bare in {_path(f) for f in win.inputFiles()}
    assert full not in {_path(f) for f in win.inputFiles()}
    assert sorted(r["conv_id"] for r in win.collect()) == [f"z{i:03d}" for i in range(11)]


def test_unreadable_footers_record_nothing_and_read_exactly(spark, tmp_path, monkeypatch):
    sink = _sink(spark, tmp_path, "string")
    want = sorted(map(tuple, sink.read(spark).collect()))
    monkeypatch.setattr(
        LocalSnapshotSink, "_footer_stats", staticmethod(lambda path, cols=(): None)
    )
    sink.compact(spark, sort=True)
    m = sink.manifest()
    assert not sink.key_stats() and not m.get("bucket_rows")
    with pytest.raises(ValueError):
        sink.count_rows()
    assert sink.count_rows(spark) == len(want)
    assert sorted(map(tuple, sink.read(spark).collect())) == want
    assert [r["text"] for r in sink.lookup(spark, "c0043").collect()] == ["v1-43"]
    res = sink.purge_tombstones(spark, before="2030-01-01 00:00:00")
    assert res["purge_candidate_buckets"] == 2


def test_footer_stats_reader_bounds(spark, tmp_path):
    """NaN float bounds and row groups without a statistic give no
    range; timestamps come back naive local; columns match by their full
    path; an unreadable file gives None."""
    path = str(tmp_path / "f.parquet")
    table = pa.table(
        {
            "x": pa.array([1.0, float("nan"), 3.0], pa.float64()),
            "y": pa.array([5, 2, 9], pa.int64()),
            # the first row group is all null: it carries no min/max
            "z": pa.array([None, None, 4], pa.int64()),
            "ts": pa.array([_ts(0), _ts(60), _ts(5)], pa.timestamp("us", tz="UTC")),
            "_deleted": pa.array([False, True, False]),
        }
    )
    pq.write_table(table, path, row_group_size=2)
    rows, may_dead, rng = LocalSnapshotSink._footer_stats(path, ["x", "y", "z", "ts", "nope"])
    assert (rows, may_dead) == (3, True)
    assert rng["y"] == [2, 9] and rng["z"] is None and rng["nope"] is None
    assert rng["ts"] == [
        _ts(0).astimezone(tz=None).replace(tzinfo=None),
        _ts(60).astimezone(tz=None).replace(tzinfo=None),
    ]
    assert rng["x"] == [1.0, 3.0]  # pyarrow keeps NaN out of min/max
    # parquet-mr (Spark's writer) does not: its footer says max = NaN
    out = str(tmp_path / "nan")
    spark.createDataFrame([(1.0,), (float("nan"),)], "x double").coalesce(1).write.parquet(out)
    (nan_file,) = [str(f) for f in Path(out).glob("*.parquet")]
    assert LocalSnapshotSink._footer_stats(nan_file, ["x"])[2] == {"x": None}
    pq.write_table(table.slice(0, 1), path, write_statistics=["ts"])
    rows, may_dead, rng = LocalSnapshotSink._footer_stats(path, ["y", "ts"])
    assert (rows, may_dead, rng["y"]) == (1, True, None)
    assert rng["ts"] is not None
    # a nested leaf named like a top-level column does not stand in for it
    nested = table.append_column(
        "meta", pa.array([{"ts": _ts(10**6)}] * 3, pa.struct([("ts", pa.timestamp("us", tz="UTC"))]))
    )
    pq.write_table(nested, path)
    assert LocalSnapshotSink._footer_stats(path, ["ts"])[2]["ts"][1] == (
        _ts(60).astimezone(tz=None).replace(tzinfo=None)
    )
    with open(path, "wb") as f:
        f.write(b"not parquet")
    assert LocalSnapshotSink._footer_stats(path, ["ts"]) is None


# --------------------------------------------------------------- ratchet
def test_only_the_footer_reader_touches_parquet_statistics():
    """Footer statistics are read in one place, so their null, NaN,
    timestamp and tombstone rules exist once: no code in the package
    outside ``LocalSnapshotSink._footer_stats`` reads a ``.statistics``
    attribute or opens a parquet footer, except fsck's schema check."""
    root = Path(fetchez_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        owner: dict[ast.AST, str] = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Attribute):
                continue
            where = owner.get(node)
            if node.attr == "statistics" and where != "_footer_stats":
                offenders.append(f"{path.relative_to(root)}:{node.lineno} .statistics")
            if node.attr in ("ParquetFile", "read_metadata") and where not in (
                "_footer_stats", "fsck",
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno} .{node.attr}")
    assert offenders == []
