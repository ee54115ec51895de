"""Persisted table properties (the Iceberg TBLPROPERTIES analog).

The maintenance/retention policy knobs (auto-compaction thresholds,
sort-on-compact, row TTL, tombstone retention, delta compression) are part
of the TABLE's metadata, not the session's: recorded at bootstrap when the
creating constructor sets them, adopted by every fresh-session open that
leaves them at the default, settable later via one metadata-only commit.
Persisting them is a correctness matter, not convenience — row_ttl_seconds
changes what a READER sees, and CLI/cron maintenance must see the table's
own policy from the dir alone.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest

from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

UTC = dt.timezone.utc

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, op string, seq long"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _ts(h: int, d: int = 1) -> dt.datetime:
    return dt.datetime(2025, 1, d, h, tzinfo=UTC)


def test_properties_recorded_at_bootstrap_and_adopted(spark, tmp_path):
    """A creating constructor's non-default policy knobs land in the root
    manifest; a fresh-session open with a default constructor adopts them
    — so the CLI/report path sees the table's own policy."""
    t = str(tmp_path / "t")
    sink = LocalSnapshotSink(
        t, num_buckets=2, compact_every=10**9,
        compact_min_bucket_bytes=123, sort_on_compact=True,
        tombstone_retention_seconds=3600.0,
    )
    sink.merge(
        _batch(spark, [("c1", 0, "user", "hi", None, _ts(1), "insert", 1)]),
        "b-0",
    )
    assert sink.properties() == {
        "compact_min_bucket_bytes": 123,
        "sort_on_compact": True,
        "tombstone_retention_seconds": 3600.0,
    }

    fresh = LocalSnapshotSink(t)
    assert fresh.compact_min_bucket_bytes == 123
    assert fresh.sort_on_compact is True
    assert fresh.tombstone_retention_seconds == 3600.0
    assert fresh.auto_compact_bytes is None  # unset stays default
    # and the health report recommends by the recorded policy
    rep = fresh.table_report()
    assert rep["properties"]["compact_min_bucket_bytes"] == 123
    assert "purge_tombstones" in {r["action"] for r in rep["recommendations"]}


def test_row_ttl_property_reaches_a_fresh_reader(spark, tmp_path):
    """The correctness case: a plain reader that only knows the dir must
    apply the table's row TTL — without persistence it would resurrect
    expired rows."""
    t = str(tmp_path / "ttl")
    day = 86_400.0
    sink = LocalSnapshotSink(
        t, num_buckets=2, compact_every=10**9, row_ttl_seconds=2 * day
    )
    sink.merge(
        _batch(spark, [
            ("old", 0, "user", "stale", None, _ts(0, d=1), "insert", 1),
            ("new", 0, "user", "live", None, _ts(0, d=5), "insert", 2),
        ]),
        "b-0",
    )
    assert sink.read(spark).count() == 1  # policy session filters
    fresh = LocalSnapshotSink(t)
    assert fresh.row_ttl_seconds == 2 * day
    got = [r["conv_id"] for r in fresh.read(spark).collect()]
    assert got == ["new"], "fresh reader must apply the persisted TTL"


def test_set_properties_is_a_metadata_commit(spark, tmp_path):
    """set_properties commits once (no change set of its own), updates the
    live sink, unsets with None, and rejects unknown names loudly."""
    t = str(tmp_path / "p")
    sink = LocalSnapshotSink(t, num_buckets=2, compact_every=10**9)
    sink.merge(
        _batch(spark, [("c1", 0, "user", "hi", None, _ts(1), "insert", 1)]),
        "b-0",
    )
    head = sink.manifest()["snapshot_id"]

    out = sink.set_properties(auto_compact_bytes=10_000, sort_on_compact=True)
    assert out == {"auto_compact_bytes": 10_000, "sort_on_compact": True}
    assert sink.auto_compact_bytes == 10_000  # live sink adopted
    m = sink.manifest()
    assert m["parent"] == head and m["stats"]["properties_set"] == [
        "auto_compact_bytes", "sort_on_compact"
    ]
    # metadata-only: the typed change feed across the commit is empty
    feed = sink.change_feed(spark, head)
    assert feed.count() == 0

    sink.set_properties(sort_on_compact=None)
    assert sink.properties() == {"auto_compact_bytes": 10_000}
    assert sink.sort_on_compact is False  # reverted to the default

    with pytest.raises(ValueError, match="unknown table properties"):
        sink.set_properties(compact_every=3)


def test_properties_survive_merges_and_compaction(spark, tmp_path):
    """Properties ride every commit shape: merge, minor and major
    compaction (each child manifest inherits its parent's keys), and
    expiry keeps them on the surviving head."""
    t = str(tmp_path / "carry")
    sink = LocalSnapshotSink(
        t, num_buckets=2, compact_every=10**9, target_file_bytes=1 << 20
    )
    for i in range(3):
        sink.merge(
            _batch(spark, [(f"c{i}", 0, "user", "x", None, _ts(1 + i), "insert", i)]),
            f"b-{i}",
        )
    assert sink.properties() == {"target_file_bytes": 1 << 20}
    sink.compact(spark, minor=True)
    assert sink.properties() == {"target_file_bytes": 1 << 20}
    sink.compact(spark)
    assert sink.properties() == {"target_file_bytes": 1 << 20}
    sink.expire_snapshots(keep_last=1, min_age_seconds=0)
    assert LocalSnapshotSink(t).properties() == {"target_file_bytes": 1 << 20}


def test_constructor_override_is_session_only(spark, tmp_path):
    """An explicit constructor value wins over the recorded property for
    that session but does NOT rewrite the table's metadata."""
    t = str(tmp_path / "ovr")
    LocalSnapshotSink(
        t, num_buckets=2, compact_every=10**9, row_ttl_seconds=100.0
    ).merge(
        _batch(spark, [("c1", 0, "user", "hi", None, _ts(1), "insert", 1)]),
        "b-0",
    )
    override = LocalSnapshotSink(t, row_ttl_seconds=999.0)
    assert override.row_ttl_seconds == 999.0
    assert override.properties() == {"row_ttl_seconds": 100.0}
    assert LocalSnapshotSink(t).row_ttl_seconds == 100.0


def test_cli_properties_and_policy_aware_auto(spark, tmp_path, capsys):
    """CLI: --set-property records policy, --properties prints it, and
    `maintain --auto` then compacts by the table's OWN recorded threshold
    from a fresh process-style open."""
    from fetchez_spark.cli import main

    t = str(tmp_path / "cli")
    sink = LocalSnapshotSink(t, num_buckets=2, compact_every=10**9)
    for i in range(2):
        sink.merge(
            _batch(spark, [(f"c{i}", 0, "user", "x" * 50, None, _ts(1), "insert", i)]),
            f"b-{i}",
        )
    assert main(["maintain", t, "--set-property", "compact_min_bucket_bytes=1",
                 "--set-property", "tombstone_retention_seconds=60"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["properties"]["compact_min_bucket_bytes"] == 1

    assert main(["maintain", t, "--properties"]) == 0
    props = json.loads(capsys.readouterr().out)
    assert props == {"compact_min_bucket_bytes": 1,
                     "tombstone_retention_seconds": 60.0}

    assert main(["maintain", t, "--auto", "--cores", "2"]) == 0
    res = json.loads(capsys.readouterr().out)
    acts = {e["action"] for e in res["executed"]}
    assert "compact" in acts and "purge_tombstones" in acts
    assert LocalSnapshotSink(t).delta_lists() in ({}, {"0": [], "1": []}) or all(
        not v for v in LocalSnapshotSink(t).delta_lists().values()
    )
    assert sink.read(spark).count() == 2


# --------------------------------------------------- persisted expectations
def test_expectations_recorded_and_enforced_on_fresh_writer(spark, tmp_path):
    """A gate declared by the creating writer binds EVERY writer of the
    table — the Delta ADD CONSTRAINT semantic — not just the declaring
    session."""
    from fetchez_spark.sinks.local_snapshot import ExpectationFailed

    t = str(tmp_path / "exp")
    LocalSnapshotSink(
        t, num_buckets=2, compact_every=10**9,
        expectations=[("text_present", "text IS NOT NULL", "fail")],
    ).merge(
        _batch(spark, [("c1", 0, "user", "ok", None, _ts(1), "insert", 1)]),
        "b-0",
    )
    fresh = LocalSnapshotSink(t)  # no expectations passed
    assert fresh.expectations == [("text_present", "text IS NOT NULL", "fail")]
    with pytest.raises(ExpectationFailed):
        fresh.merge(
            _batch(spark, [("c2", 0, "user", None, None, _ts(2), "insert", 2)]),
            "b-1",
        )
    assert fresh.read(spark).count() == 1  # the violating batch never landed


def test_expectation_added_mid_life_reaches_an_open_writer(spark, tmp_path):
    """add_expectation is a metadata commit; a writer that opened BEFORE
    the gate was added enforces it on its next merge (per-merge refresh
    from the current manifest)."""
    from fetchez_spark import api
    from fetchez_spark.sinks.local_snapshot import ExpectationFailed

    t = str(tmp_path / "mid")
    writer = LocalSnapshotSink(t, num_buckets=2, compact_every=10**9)
    writer.merge(
        _batch(spark, [("c1", 0, "user", "ok", None, _ts(1), "insert", 1)]),
        "b-0",
    )
    api.add_expectation(t, "no_empty", "length(text) > 0", "fail")
    with pytest.raises(ExpectationFailed):
        writer.merge(
            _batch(spark, [("c2", 0, "user", "", None, _ts(2), "insert", 2)]),
            "b-1",
        )
    # dropping the gate re-opens the door for the same writer
    api.drop_expectation(t, "no_empty")
    writer.merge(
        _batch(spark, [("c2", 0, "user", "", None, _ts(3), "insert", 3)]),
        "b-2",
    )
    assert writer.read(spark).count() == 2


def test_expectation_conflicts_and_session_extras(spark, tmp_path):
    """A constructor expectation conflicting with the recorded one of the
    same name errors loudly; a new-named one applies ON TOP of the
    recorded set (a session can add gates, never weaken them)."""
    t = str(tmp_path / "conf")
    LocalSnapshotSink(
        t, num_buckets=2, compact_every=10**9,
        expectations=[("text_present", "text IS NOT NULL", "fail")],
    ).merge(
        _batch(spark, [("c1", 0, "user", "ok", None, _ts(1), "insert", 1)]),
        "b-0",
    )
    with pytest.raises(ValueError, match="conflicts"):
        LocalSnapshotSink(
            t, expectations=[("text_present", "text IS NOT NULL", "drop")]
        )
    extra = LocalSnapshotSink(
        t, expectations=[("role_known", "role IN ('user','assistant')", "drop")]
    )
    assert [e[0] for e in extra.expectations] == ["text_present", "role_known"]
    # unknown drop target errors with the recorded names
    with pytest.raises(ValueError, match="no expectation named"):
        extra.drop_expectation("nope")
    with pytest.raises(ValueError, match="already recorded"):
        extra.add_expectation("text_present", "1=1", "drop")


def test_snapshot_keep_last_property_drives_auto_expire(spark, tmp_path):
    """snapshot_keep_last recorded on the table makes auto_maintain trim
    history from the dir alone — no Spark session needed for the
    metadata-only plan."""
    t = str(tmp_path / "keep")
    sink = LocalSnapshotSink(t, num_buckets=2, compact_every=10**9)
    for i in range(4):
        sink.merge(
            _batch(spark, [(f"c{i}", 0, "user", "x", None, _ts(1 + i), "insert", i)]),
            f"b-{i}",
        )
    sink.set_properties(snapshot_keep_last=1)
    fresh = LocalSnapshotSink(t)
    assert fresh.snapshot_keep_last == 1
    rep = fresh.table_report()
    assert "expire_snapshots" in {r["action"] for r in rep["recommendations"]}
    out = fresh.auto_maintain(min_age_seconds=0)  # no spark needed
    assert "expire_snapshots" in {e["action"] for e in out["executed"]}
    assert len(LocalSnapshotSink(t).snapshots()) == 1
    assert LocalSnapshotSink(t).read(spark).count() == 4


def test_cli_expectations_roundtrip(spark, tmp_path, capsys):
    from fetchez_spark.cli import main

    t = str(tmp_path / "cliexp")
    sink = LocalSnapshotSink(t, num_buckets=2, compact_every=10**9)
    sink.merge(
        _batch(spark, [("c1", 0, "user", "ok", None, _ts(1), "insert", 1)]),
        "b-0",
    )
    rc = main(["maintain", t, "--add-expectation",
               "text_present:fail:text IS NOT NULL"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["expectations"] == [["text_present", "text IS NOT NULL", "fail"]] or (
        out["expectations"] == [("text_present", "text IS NOT NULL", "fail")]
    )
    assert LocalSnapshotSink(t).expectations == [
        ("text_present", "text IS NOT NULL", "fail")
    ]
    assert main(["maintain", t, "--drop-expectation", "text_present"]) == 0
    json.loads(capsys.readouterr().out)
    assert LocalSnapshotSink(t).expectations == []


def test_drop_through_same_sink_sheds_constructor_gate(spark, tmp_path):
    """drop_expectation on the DECLARING sink must not be silently undone
    by the per-merge refresh re-applying the constructor-declared gate."""
    from fetchez_spark import api

    t = str(tmp_path / "shed")
    sink = LocalSnapshotSink(
        t, num_buckets=2, compact_every=10**9,
        expectations=[("g", "text IS NOT NULL", "fail")],
    )
    sink.merge(
        _batch(spark, [("c1", 0, "user", "ok", None, _ts(1), "insert", 1)]),
        "b-0",
    )
    sink.drop_expectation("g")
    # the violating merge must LAND: the gate is gone for this sink too
    sink.merge(
        _batch(spark, [("c2", 0, "user", None, None, _ts(2), "insert", 2)]),
        "b-1",
    )
    assert sink.read(spark).count() == 2
    assert api.table_properties(t) is not None  # table still healthy


def test_add_expectation_validates_condition_at_add_time(spark, tmp_path):
    """A typo'd condition must fail AT ADD TIME (naming the gate), not
    abort every writer's next merge with an opaque analysis error."""
    t = str(tmp_path / "val")
    sink = LocalSnapshotSink(t, num_buckets=2, compact_every=10**9)
    sink.merge(
        _batch(spark, [("c1", 0, "user", "ok", None, _ts(1), "insert", 1)]),
        "b-0",
    )
    with pytest.raises(ValueError, match="does not analyze"):
        sink.add_expectation("typo", "lenght(text) > 0", "fail")
    with pytest.raises(ValueError, match="does not analyze"):
        sink.add_expectation("badcol", "no_such_column IS NOT NULL", "fail")
    assert LocalSnapshotSink(t).expectations == []  # nothing recorded
    # a valid condition still records and enforces
    sink.add_expectation("ok_gate", "length(text) > 0", "fail")
    assert LocalSnapshotSink(t).expectations == [
        ("ok_gate", "length(text) > 0", "fail")
    ]
