"""Round-6 optimization regression pins.

Covers the operator-internal changes of the optimization round:

* the combine-first (map-side partial aggregate) fold shape must produce
  byte-identical table state and the same one-file-per-bucket layout as
  the single-exchange shape it replaces on large folds;
* the fast-path watermark now comes from parquet footer statistics
  instead of a ts aggregate in the stats job -- it must equal the
  Spark-aggregated value exactly (the fallback when footers lack stats).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

pytestmark = pytest.mark.usefixtures("spark")


def _batch(spark, n=400, convs=12):
    rows = [
        (
            "D" if i % 11 == 0 else ("U" if i % 3 == 0 else "I"),
            f"conv_{i % convs:04d}",
            i % 20,
            "user",
            f"text {i}",
            None,
            dt.datetime(2025, 1, 1, 0, 0, 0) + dt.timedelta(seconds=i),
            i,
            i % 4,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "op string, conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, seq long, src_partition int",
    )


def test_combine_first_fold_matches_one_exchange(spark, tmp_path):
    states = {}
    layouts = {}
    for tag, floor in (("small", 1 << 60), ("combine", 0)):
        sink = LocalSnapshotSink(
            str(tmp_path / tag), num_buckets=4, compact_every=10**9,
            cluster_deltas=False,
        )
        sink.FOLD_COMBINE_MIN_BYTES = floor
        sink.merge(_batch(spark), "b1")
        sink.merge(
            _batch(spark, n=300).withColumn(
                "ts", F.col("ts") + F.expr("INTERVAL 2 HOURS")
            ),
            "b2",
        )
        sink.compact(spark)
        states[tag] = sorted(
            map(tuple, sink.read(spark).collect())
        )
        layouts[tag] = sorted(
            len(sink._resolve_list(fs))
            for fs in sink.manifest()["files"].values()
            if fs
        )
    assert states["combine"] == states["small"]
    assert set(layouts["combine"]) == {1}, layouts
    assert layouts["combine"] == layouts["small"]


def test_fast_path_watermark_footer_equals_aggregate(spark, tmp_path, monkeypatch):
    """The footer-derived watermark must be bit-identical to the ts
    aggregate it replaced; forcing the fallback (no footer stats) must
    also yield the same value."""
    sink = LocalSnapshotSink(
        str(tmp_path / "footer"), num_buckets=4, cluster_deltas=False
    )
    sink.merge(_batch(spark), "b1")
    hwm_footer = sink.manifest()["high_watermark"]

    sink2 = LocalSnapshotSink(
        str(tmp_path / "agg"), num_buckets=4, cluster_deltas=False
    )
    monkeypatch.setattr(
        LocalSnapshotSink, "_footer_stats", staticmethod(lambda path, cols=(): None)
    )
    sink2.merge(_batch(spark), "b1")
    hwm_agg = sink2.manifest()["high_watermark"]
    assert hwm_footer == hwm_agg
    # and it is the true batch maximum
    assert hwm_footer.startswith("2025-01-01 00:06:39")


def test_async_compact_equals_inline_and_barriers(spark, tmp_path):
    """Merge-triggered background folds (async_compact, the default) must
    leave the table byte-identical to inline folding, report the fold in
    the replay's batch metrics, and leave nothing pending after
    replay_batches returns."""
    from fetchez_spark.streaming.engine import replay_batches

    batches = [
        _batch(spark, n=400).withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {i} HOURS")
        )
        for i in range(4)
    ]
    states = {}
    for tag, is_async in (("inline", False), ("async", True)):
        sink = LocalSnapshotSink(
            str(tmp_path / tag), num_buckets=4, compact_every=2,
            cluster_deltas=False, async_compact=is_async,
        )
        res = replay_batches(spark, list(batches), sink, token_prefix=tag)
        # the fold outcome is observable in the batch metrics stream
        assert any("compacted" in m for m in res), res
        # replay_batches barriers: no background work survives the call
        assert sink._compact_future is None
        states[tag] = sorted(map(tuple, sink.read(spark).collect()))
    assert states["async"] == states["inline"]
    # explicit compact() joins the pending fold first: launch one by hand
    sink = LocalSnapshotSink(
        str(tmp_path / "join"), num_buckets=4, compact_every=10**9,
        cluster_deltas=False,
    )
    sink.merge(_batch(spark), "j-0")
    before = sorted(map(tuple, sink.read(spark).collect()))
    sink._launch_compact(spark, None, False)
    out = sink.compact(spark)  # must not race the background fold
    assert sink._compact_future is None
    assert sorted(map(tuple, sink.read(spark).collect())) == before
    assert out["compacted_buckets"] == 0 or out.get("snapshot_id")
    assert not any(sink.delta_lists().values())


def test_fold_thread_stops_after_replay(spark, tmp_path):
    """finish_maintenance() shuts the idle background fold thread down:
    no fetchez-compact thread outlives replay_batches, and the next
    merge-triggered fold starts a new one."""
    import threading

    from fetchez_spark.streaming.engine import replay_batches

    def fold_threads():
        return [t for t in threading.enumerate() if t.name.startswith("fetchez-compact")]

    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=4, compact_every=2, cluster_deltas=False
    )
    for rep in range(2):
        res = replay_batches(
            spark, [_batch(spark, n=200), _batch(spark, n=200)], sink, token_prefix=f"r{rep}"
        )
        assert any("compacted" in m for m in res), res
        assert fold_threads() == []
        assert sink._compact_pool is None
