"""One commit rule: every snapshot inherits from its parent in one place.

A child manifest carries every top-level key of its parent except
``snapshot_id``, ``parent``, the per-commit keys ``stats``,
``change_files`` and ``ts_stats_new``, and the retired ``key_blooms``
(``_RETIRED_KEYS``, dropped so expiry frees its blob); every top-level
``ref:`` value is a live payload that expiry keeps, fsck resolves and a
clone re-packs.
These tests plant an unregistered key into a head manifest and drive
each commit shape over it, check that view refreshes commit once and
keep their definitions through expiry, and stop modules outside the
sink from running the commit protocol themselves.
"""

from __future__ import annotations

import ast
import datetime as dt
import json
import os
from pathlib import Path

import pytest
from pyspark.sql import types as T

import fetchez_spark
from fetchez_spark.functions.similarity import IVFIndex
from fetchez_spark.operators.conv_view import ConversationView
from fetchez_spark.operators.token_index import TokenIndexView
from fetchez_spark.operators.vector_index import VectorIndexView
from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

UTC = dt.timezone.utc
PLANTED = "zz_operator_state"


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2025, 4, 1, tzinfo=UTC) + dt.timedelta(seconds=s)


def _batch(spark, i: int, n: int = 8):
    return spark.createDataFrame(
        [
            ("U", f"c{k}", k % 3, "user", f"v{i}-{k}", None, _ts(10 * i + k), 100 * i + k, 0)
            for k in range(n)
        ],
        "op string, conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, seq long, src_partition int",
    )


def _seeded(spark, tmp_path, **kw) -> LocalSnapshotSink:
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=4, compact_every=10**9, **kw
    )
    sink.merge(_batch(spark, 0), "m-0")
    return sink


def _data_files(sink) -> list[str]:
    return sorted(
        f
        for m in (sink.file_lists(), sink.delta_lists())
        for fs in m.values()
        for f in fs
    )


def _plant(sink, data_files: list[str]) -> dict:
    """Rewrite the head manifest's JSON: an unknown key whose value is a
    blob ref, plus the per-commit keys a child must not inherit."""
    planted = {
        PLANTED: sink._pack_blob({"planted": True}),
        "change_files": sink._pack_list(data_files[:1]),
        "ts_stats_new": {data_files[0]: ["2025-04-01 00:00:00"] * 2},
    }
    path = sink._manifest_path(sink.current_snapshot_id)
    with open(path) as f:
        m = json.load(f)
    m.update(planted)
    with open(path, "w") as f:
        json.dump(m, f)
    return planted


def _assert_carried(sink, planted: dict) -> None:
    head = sink.manifest()
    assert head[PLANTED] == planted[PLANTED]
    assert head.get("change_files") != planted["change_files"]
    assert head.get("ts_stats_new") != planted["ts_stats_new"]
    sink.expire_snapshots(keep_last=1, min_age_seconds=0)
    assert sink._resolve_blob(sink.manifest()[PLANTED]) == {"planted": True}
    report = sink.fsck()
    assert report["ok"], report


def _import(spark, sink, tmp_path):
    ext = str(tmp_path / "ext")
    spark.createDataFrame(
        [("x1", 0, "user", "imported", None, _ts(5))],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    ).coalesce(1).write.parquet(ext)
    sink.import_files(spark, ext)


SHAPES = {
    "mor_merge": ({}, lambda spark, sink, tmp: sink.merge(_batch(spark, 1), "m-1")),
    "cow_merge": (
        {"mode": "cow"},
        lambda spark, sink, tmp: sink.merge(_batch(spark, 1), "m-1"),
    ),
    "minor_compact": ({}, lambda spark, sink, tmp: sink.compact(spark, minor=True)),
    "major_compact": ({}, lambda spark, sink, tmp: sink.compact(spark)),
    "rebucket": ({}, lambda spark, sink, tmp: sink.rebucket(spark, 8)),
    "import_files": ({}, _import),
    "set_properties": (
        {},
        lambda spark, sink, tmp: sink.set_properties(target_file_bytes=1 << 20),
    ),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_every_commit_shape_carries_unregistered_keys(spark, tmp_path, shape):
    kwargs, commit = SHAPES[shape]
    sink = _seeded(spark, tmp_path, **kwargs)
    planted = _plant(sink, _data_files(sink))
    parent = sink.current_snapshot_id
    commit(spark, sink, tmp_path)
    assert sink.manifest()["parent"] == parent
    _assert_carried(sink, planted)


def test_view_definition_commit_carries_unregistered_keys(spark, tmp_path):
    source = _seeded(spark, tmp_path)
    view = TokenIndexView(str(tmp_path / "tok"), source)
    planted = _plant(view.store, _data_files(source))
    view.refresh(spark)  # the postings merge, then the definition commit
    head = view.store.manifest()
    assert head["stats"].get("tokidx_def_updated") and head.get("tokidx_def")
    _assert_carried(view.store, planted)


def test_fsck_resolves_unregistered_payload_refs(spark, tmp_path):
    sink = _seeded(spark, tmp_path)
    planted = _plant(sink, _data_files(sink))
    assert sink.fsck()["ok"]
    os.remove(os.path.join(sink._lists_dir(), planted[PLANTED][len("ref:"):]))
    report = sink.fsck()
    assert not report["ok"]
    assert any(PLANTED in e for e in report["errors"]), report["errors"]


# ------------------------------------------------------- view definitions
VIEW_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _turns(spark, i: int):
    return spark.createDataFrame(
        [
            ("U", f"c{k}", i, "user", f"w{i} w{k}", [float(k % 2), 1.0 - k % 2],
             _ts(10 * i + k), 100 * i + k, 0)
            for k in range(4)
        ],
        T.StructType(
            [
                T.StructField("op", T.StringType()),
                *VIEW_SCHEMA.fields[:-1],
                T.StructField("ts", T.TimestampType()),
                T.StructField("seq", T.LongType()),
                T.StructField("src_partition", T.IntegerType()),
            ]
        ),
    )


def _ivf() -> IVFIndex:
    idx = IVFIndex(k=2, seed=0, vec_col="embedding")
    idx.centroids = [[1.0, 0.0], [0.0, 1.0]]
    return idx


VIEWS = {
    "token_index": (TokenIndexView, "tokidx_def", {}),
    "conv_view": (ConversationView, "convview_def", {}),
    "vector_index": (VectorIndexView, "vecidx_def", {"index": _ivf()}),
}


@pytest.mark.parametrize("view_name", sorted(VIEWS))
def test_view_refresh_commits_once_and_definition_survives_expiry(
    spark, tmp_path, view_name
):
    cls, def_key, kwargs = VIEWS[view_name]
    source = LocalSnapshotSink(
        str(tmp_path / "src"), num_buckets=4, key=["conv_id", "turn_idx"],
        base_schema=VIEW_SCHEMA, compact_every=10**9,
    )
    store_dir = str(tmp_path / "view")
    view = cls(store_dir, source, num_buckets=4, **kwargs)
    source.merge(_turns(spark, 0), "s-0")
    view.refresh(spark)  # the first refresh also records the definition
    for i in (1, 2):
        source.merge(_turns(spark, i), f"s-{i}")
        before = len(view.store.snapshots())
        view.refresh(spark)
        assert len(view.store.snapshots()) == before + 1
        assert view.store.manifest().get(def_key)
    view.store.expire_snapshots(keep_last=1, min_age_seconds=0)
    assert cls.load(store_dir).store.manifest().get(def_key)


# ---------------------------------------------------------------- ratchet
def test_only_the_sink_runs_the_commit_protocol():
    """Operators commit through ``LocalSnapshotSink._commit_metadata``;
    none takes the commit lock, claims a snapshot id or swaps a manifest
    on a sink itself (each such copy once forked the inheritance rule)."""
    root = Path(fetchez_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "sinks" / "local_snapshot.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Attribute):
                continue
            own = isinstance(node.value, ast.Name) and node.value.id == "self"
            if node.attr in ("_claim_sid", "_commit_lock") or (
                node.attr == "_commit" and not own
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno} .{node.attr}")
    assert offenders == []
