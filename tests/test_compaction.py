"""Major compaction: the hash fold in ``_dedup_write_bucketed``.

Every major fold takes one path: read a bucket's base+delta files, keep
the max-(ts, _seq, payload...) row per key, write one bucket-clustered
base.  These tests drive it over tricky data -- deletes, an exact
duplicate row, equal-(ts, _seq) ties whose payloads differ only in
nulls, clustered and flat delta layouts, a schema widened mid-log -- and
check the folded state against a one-shot last-writer-wins oracle.  They
also pin the sink's option surface: tables that recorded a since-removed
property still open, and new knobs need a visible edit here.
"""

from __future__ import annotations

import datetime as dt
import inspect
import json

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
    assert _params(LocalSnapshotSink.__init__) == [
        "async_compact", "auto_compact_bytes", "base_schema", "branch",
        "cluster_deltas", "collect_metrics", "compact_every",
        "compact_min_bucket_bytes", "compact_min_dead_fraction",
        "conflict_retries", "dedup_on_write", "dedup_salt", "expectations",
        "key", "late_tolerance_seconds", "max_committed_tokens", "merge_mode",
        "mode", "monotonic_tokens", "num_buckets", "row_ttl_seconds",
        "snapshot_keep_last", "sort_on_compact", "table_dir",
        "target_file_bytes", "tombstone_retention_seconds", "track_changes",
        "write_fanout",
    ]
    assert _params(LocalSnapshotSink.compact) == [
        "bloom", "buckets", "cluster_by", "expire_rows_before",
        "min_bucket_bytes", "min_dead_fraction", "minor",
        "purge_tombstones_before", "sort", "target_file_bytes",
    ]
