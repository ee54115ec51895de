"""Predicate deletes + tombstone GC (round 4, second session).

``delete_where`` / ``delete_keys`` write tombstones through the ordinary
merge path (one commit, LWW-correct against concurrent/late events);
``compact(purge_tombstones_before=...)`` / ``tombstone_retention_seconds``
physically drop tombstones older than an event-time horizon at major
compaction -- the Delta/Iceberg DELETE-then-VACUUM shape and the GDPR
erasure primitive.  (Reference analog: entry invalidation + re-fetch,
/root/reference/src/fetchez/core.py:557-562.)
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

UTC = dt.timezone.utc


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, op string, seq long",
    )


def _ts(h: int) -> dt.datetime:
    return dt.datetime(2025, 1, 1, h, tzinfo=UTC)


def _seed(spark, tmp_path, name="t", **kw):
    sink = LocalSnapshotSink(str(tmp_path / name), num_buckets=4, **kw)
    sink.merge(
        _batch(
            spark,
            [
                ("c1", 0, "user", "hello", None, _ts(1), "I", 1),
                ("c1", 1, "assistant", "hi", None, _ts(2), "I", 2),
                ("c2", 0, "user", "secret", None, _ts(3), "I", 3),
                ("c3", 0, "tool", "ok", "bash", _ts(4), "I", 4),
            ],
        ),
        "seed-0",
    )
    return sink


# ------------------------------------------------------------ delete_where
def test_delete_where_tombstones_matching_keys(spark, tmp_path):
    sink = _seed(spark, tmp_path)
    res = sink.delete_where(spark, "text = 'secret' OR role = 'tool'")
    assert res["rows_deleted"] == 2
    vis = {(r["conv_id"], r["turn_idx"]) for r in sink.read(spark).collect()}
    assert vis == {("c1", 0), ("c1", 1)}
    # tombstones are retained (not physically gone) until compaction+GC
    dead = (
        sink.read(spark, include_internal=True, include_deleted=True)
        .filter(F.col("_deleted"))
        .collect()
    )
    assert {(r["conv_id"], r["turn_idx"]) for r in dead} == {("c2", 0), ("c3", 0)}


def test_delete_where_feed_classifies_delete(spark, tmp_path):
    sink = _seed(spark, tmp_path)
    pre = sink.current_snapshot_id
    sink.delete_where(spark, F.col("conv_id") == "c2")
    feed = sink.change_feed(spark, pre).collect()
    assert [(r["conv_id"], r["turn_idx"], r["_change_type"]) for r in feed] == [
        ("c2", 0, "delete")
    ]


def test_delete_where_lww_against_late_and_new_events(spark, tmp_path):
    sink = _seed(spark, tmp_path)
    sink.delete_where(spark, "conv_id = 'c2'")
    # a LATE event (older ts than the deleted winner) must stay dead
    sink.merge(
        _batch(spark, [("c2", 0, "user", "late", None, _ts(2), "U", 99)]), "late-0"
    )
    assert sink.read(spark).filter("conv_id = 'c2'").count() == 0
    # a genuinely NEWER event legitimately resurrects the key
    sink.merge(
        _batch(spark, [("c2", 0, "user", "reborn", None, _ts(9), "U", 100)]), "new-0"
    )
    rows = sink.read(spark).filter("conv_id = 'c2'").collect()
    assert [r["text"] for r in rows] == ["reborn"]


def test_delete_keys_list_and_dataframe(spark, tmp_path):
    sink = _seed(spark, tmp_path)
    res = sink.delete_keys(spark, [("c1", 0), ("c3", 0)])
    assert res["rows_deleted"] == 2
    vis = {(r["conv_id"], r["turn_idx"]) for r in sink.read(spark).collect()}
    assert vis == {("c1", 1), ("c2", 0)}
    # DataFrame form too; deleting an absent key is a no-op
    keys = spark.createDataFrame(
        [("c2", 0), ("nope", 7)], "conv_id string, turn_idx int"
    )
    res2 = sink.delete_keys(spark, keys)
    assert res2["rows_deleted"] == 1
    assert {(r["conv_id"], r["turn_idx"]) for r in sink.read(spark).collect()} == {
        ("c1", 1)
    }


def test_delete_where_is_replay_idempotent(spark, tmp_path):
    """An explicit batch_token makes the purge commit token-idempotent,
    same as any merge -- replaying it is a no-op."""
    sink = _seed(spark, tmp_path)
    sink.delete_where(spark, "conv_id = 'c2'", batch_token="purge-c2x")
    n = sink.read(spark).count()
    res = sink.delete_where(spark, "conv_id = 'c1'", batch_token="purge-c2x")
    assert res["skipped"] is True
    assert sink.read(spark).count() == n


# ------------------------------------------------------------- tombstone GC
def _dead_keys(spark, sink):
    return {
        (r["conv_id"], r["turn_idx"])
        for r in sink.read(spark, include_internal=True, include_deleted=True)
        .filter(F.col("_deleted"))
        .collect()
    }


def test_compact_purges_tombstones_before_horizon(spark, tmp_path):
    sink = _seed(spark, tmp_path)
    # tombstones at ts(3) (c2) and ts(4) (c3) -- horizon between them
    sink.delete_where(spark, "conv_id IN ('c2', 'c3')")
    vis_before = {(r["conv_id"], r["turn_idx"]) for r in sink.read(spark).collect()}
    sink.compact(spark, purge_tombstones_before=_ts(4))
    assert _dead_keys(spark, sink) == {("c3", 0)}  # young tombstone survives
    # visible state unchanged by the purge (pure maintenance)
    assert {(r["conv_id"], r["turn_idx"]) for r in sink.read(spark).collect()} == vis_before


def test_retention_horizon_derives_from_high_watermark(spark, tmp_path):
    # hwm = ts(4); retention 90 minutes -> horizon ts(2:30): the c2
    # tombstone (ts(3)) is young enough to survive an auto-purge
    sink = _seed(spark, tmp_path, tombstone_retention_seconds=90 * 60)
    sink.delete_where(spark, "conv_id = 'c2'")
    sink.compact(spark)
    assert _dead_keys(spark, sink) == {("c2", 0)}
    # advance event time far past retention; compact() alone folds only
    # delta-bearing buckets, so the base-resident tombstone needs the
    # TARGETED purge pass (footer-stats bucket selection)
    sink.merge(
        _batch(spark, [("c9", 0, "user", "x", None, _ts(20), "I", 50)]), "adv-0"
    )
    sink.purge_tombstones(spark)
    assert _dead_keys(spark, sink) == set()


def test_purge_tombstones_selects_buckets_by_footer_stats(spark, tmp_path):
    """purge_tombstones must rewrite ONLY buckets whose parquet footers
    admit an old tombstone -- a clean table's buckets are untouched, and
    a second purge is a no-op (stats show nothing left to GC)."""
    sink = _seed(spark, tmp_path)
    sink.compact(spark)  # all rows live in bases now
    m0 = sink.manifest()
    res0 = sink.purge_tombstones(spark, before=_ts(10))
    assert res0["purge_candidate_buckets"] == 0  # nothing dead -> no rewrites
    assert sink.manifest()["snapshot_id"] == m0["snapshot_id"]
    sink.delete_where(spark, "conv_id = 'c2'")
    sink.compact(spark)  # fold tombstone into its base (young horizonless)
    res1 = sink.purge_tombstones(spark, before=_ts(10))
    assert res1["purge_candidate_buckets"] == 1  # only c2's bucket rewrites
    assert _dead_keys(spark, sink) == set()
    res2 = sink.purge_tombstones(spark, before=_ts(10))
    assert res2["purge_candidate_buckets"] == 0


def test_purged_tombstone_resurrection_contract(spark, tmp_path):
    """The documented GC edge: an event OLDER than a purged tombstone
    resurrects the key (the tombstone that would have suppressed it is
    gone) -- exactly why retention must cover the lateness window."""
    sink = _seed(spark, tmp_path)
    sink.delete_where(spark, "conv_id = 'c2'")
    sink.compact(spark, purge_tombstones_before=_ts(10))
    assert _dead_keys(spark, sink) == set()
    sink.merge(
        _batch(spark, [("c2", 0, "user", "ghost", None, _ts(1), "U", 98)]), "ghost-0"
    )
    assert [r["text"] for r in sink.read(spark).filter("conv_id = 'c2'").collect()] == [
        "ghost"
    ]


def test_minor_compact_never_purges(spark, tmp_path):
    """Minor consolidation folds deltas only -- an older row of the key may
    survive in the base, so purging there would resurrect it.  Even with
    retention configured, tombstones survive minor compaction."""
    sink = _seed(spark, tmp_path, tombstone_retention_seconds=0)
    sink.delete_where(spark, "conv_id = 'c2'")
    sink.compact(spark, minor=True)
    assert _dead_keys(spark, sink) == {("c2", 0)}
    # and the key stays dead through a read (base row must not resurface)
    assert sink.read(spark).filter("conv_id = 'c2'").count() == 0


# ------------------------------------------------------------------ CLI face
def test_cli_delete_where_and_purge(spark, tmp_path, capsys):
    """One dispatch covers GDPR erasure end to end: --delete-where
    tombstones, --compact folds, --purge-tombstones physically removes."""
    import json as _json

    from fetchez_spark.cli import main

    sink = _seed(spark, tmp_path)
    rc = main(
        [
            "maintain",
            str(tmp_path / "t"),
            "--delete-where",
            "conv_id = 'c2'",
            "--compact",
            "--purge-tombstones",
            "2031-01-01 00:00:00",
            "--cores",
            "2",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["delete_where"]["rows_deleted"] == 1
    assert out["purge_tombstones"]["purge_candidate_buckets"] >= 1
    assert _dead_keys(spark, sink) == set()
    assert sink.read(spark).filter("conv_id = 'c2'").count() == 0
