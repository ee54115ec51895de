"""Event-time-windowed incremental reads with parquet-footer file skipping
(round 4, second session).

``read_changes(ts_min=, ts_max=)`` restricts a commit-range scan to an
event-time window; files whose footer ts range provably misses the window
never reach the scan (``df.inputFiles()`` is the witness).  Change files
are near-disjoint in event time on a real CDC log, so a narrow window
touches O(window) files -- the "reprocess yesterday's events" primitive at
100 TB.  (Reference analog: fetch-only-updates incremental re-fetch,
/root/reference/src/fetchez/core.py:557-562, restricted in time.)
"""

from __future__ import annotations

import datetime as dt

from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

UTC = dt.timezone.utc


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, op string, seq long",
    )


def _ts(d: int, h: int = 0) -> dt.datetime:
    return dt.datetime(2025, 1, d, h, tzinfo=UTC)


def _seed_days(spark, tmp_path):
    """Three commits, one per day -- the natural time-clustered CDC log."""
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4, compact_every=10**9)
    base = sink.current_snapshot_id
    for d in (1, 2, 3):
        sink.merge(
            _batch(
                spark,
                [
                    (f"c{d}", 0, "user", f"day{d}", None, _ts(d, 1), "I", d * 10),
                    (f"c{d}", 1, "assistant", f"re{d}", None, _ts(d, 2), "I", d * 10 + 1),
                ],
            ),
            f"day-{d}",
        )
    return sink, base


def test_ts_window_rows_exact(spark, tmp_path):
    sink, base = _seed_days(spark, tmp_path)
    df = sink.read_changes(spark, base, ts_min=_ts(2), ts_max=_ts(2, 23))
    assert sorted((r["conv_id"], r["turn_idx"]) for r in df.collect()) == [
        ("c2", 0),
        ("c2", 1),
    ]
    # half-open usage: only a lower bound
    df2 = sink.read_changes(spark, base, ts_min=_ts(3))
    assert {r["conv_id"] for r in df2.collect()} == {"c3"}
    # ISO-string bounds work too
    df3 = sink.read_changes(spark, base, ts_max="2025-01-01 23:00:00")
    assert {r["conv_id"] for r in df3.collect()} == {"c1"}


def test_ts_window_skips_files_before_scan(spark, tmp_path):
    """The pruning is FILE-level, not just a row filter: a one-day window
    over a three-day range must scan only that day's files."""
    sink, base = _seed_days(spark, tmp_path)
    all_files = set(sink.read_changes(spark, base).inputFiles())
    day2 = set(sink.read_changes(spark, base, ts_min=_ts(2), ts_max=_ts(2, 23)).inputFiles())
    assert day2 and day2 < all_files
    assert len(day2) <= len(all_files) // 2


def test_ts_window_conservative_without_stats(spark, tmp_path, monkeypatch):
    """Unknown footer stats must keep the file (pruning over-approximates,
    never drops data).  With every footer unreadable, the commits record
    no ts stats and the window read's footer fallback learns nothing."""
    monkeypatch.setattr(
        LocalSnapshotSink, "_footer_stats", staticmethod(lambda path, cols=(): None)
    )
    sink, base = _seed_days(spark, tmp_path)
    assert not any(m.get("ts_stats_new") for m in map(sink.manifest, sink.snapshots()))
    df = sink.read_changes(spark, base, ts_min=_ts(2), ts_max=_ts(2, 23))
    # every file scanned, but the residual filter still yields exact rows
    assert set(df.inputFiles()) == set(sink.read_changes(spark, base).inputFiles())
    assert {r["conv_id"] for r in df.collect()} == {"c2"}


def test_cli_changes_window(spark, tmp_path, capsys):
    import json as _json

    from fetchez_spark.cli import main

    sink, base = _seed_days(spark, tmp_path)
    rc = main(
        [
            "changes",
            str(tmp_path / "t"),
            base,
            "--since",
            "2025-01-02 00:00:00",
            "--until",
            "2025-01-02 23:00:00",
            "--cores",
            "2",
        ]
    )
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert _json.loads(lines[-1])["total_changed_rows"] == 2
    # window + --typed is a loud usage error (the typed feed nets per key
    # over the whole range; a time filter there would silently lie)
    assert (
        main(["changes", str(tmp_path / "t"), base, "--typed", "--since", "2025-01-02"])
        == 1
    )


def test_window_pruning_uses_manifest_stats_not_footers(spark, tmp_path, monkeypatch):
    """Merge commits record per-file ts stats in their OWN manifest
    (``ts_stats_new``); a windowed read prunes from those without opening
    a single footer -- the metadata shape that avoids one ranged GET per
    candidate file on an object store."""
    sink, base = _seed_days(spark, tmp_path)

    def _boom(path, cols=()):
        raise AssertionError(f"footer opened for {path}")

    monkeypatch.setattr(LocalSnapshotSink, "_footer_stats", staticmethod(_boom))
    df = sink.read_changes(spark, base, ts_min=_ts(2), ts_max=_ts(2, 23))
    files = df.inputFiles()
    assert {r["conv_id"] for r in df.collect()} == {"c2"}
    all_files = sink.read_changes(spark, base).inputFiles()
    assert len(files) < len(all_files)


def test_ts_stats_survive_expiry_blob_gc(spark, tmp_path):
    """ts_stats_new blobs (large commits spill to content-addressed
    blobs) must survive snapshot expiry while their manifest is retained."""
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=32, compact_every=10**9)
    base = sink.current_snapshot_id
    # clustered delta writes emit one file per touched bucket: 40 distinct
    # keys over 32 buckets touch >16 of them, forcing the blob encoding
    # (inline max is 16)
    rows = [
        (f"c{i}", 0, "user", "x", None, _ts(1 + i % 3), "I", i) for i in range(40)
    ]
    sink.merge(_batch(spark, rows), "big-0")
    m = sink.manifest()
    assert isinstance(m.get("ts_stats_new"), str)  # blob ref
    sink.merge(_batch(spark, [("z", 0, "u", "y", None, _ts(2), "I", 99)]), "b-1")
    sink.expire_snapshots(keep_last=10, min_age_seconds=0)
    # the windowed read over the whole range still resolves the blob
    df = sink.read_changes(spark, base, ts_min=_ts(1), ts_max=_ts(3))
    assert df.count() == 41


def test_cow_sidecar_ts_stats_recorded(spark, tmp_path):
    """CoW commits harvest stats for their change SIDECAR files (the ones
    read_changes actually scans), not the rewritten bases."""
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=4, mode="cow", compact_every=10**9
    )
    base = sink.current_snapshot_id
    sink.merge(
        _batch(spark, [("c1", 0, "user", "x", None, _ts(1), "I", 1)]), "b-0"
    )
    m = sink.manifest()
    tsn = m.get("ts_stats_new")
    assert tsn
    entries = tsn if isinstance(tsn, dict) else {}
    side = set(sink._resolve_list(m["change_files"]))
    assert set(entries) == side
    df = sink.read_changes(spark, base, ts_min=_ts(1), ts_max=_ts(1, 23))
    assert df.count() == 1
