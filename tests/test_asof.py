"""TIMESTAMP AS OF time travel + the $history metadata listing: wall-clock
commit stamps recorded at the single _commit choke point, monotone along
the parent chain, resolvable to a snapshot id from epoch/ISO/datetime."""

from __future__ import annotations

import datetime as dt
import json
import time

import pytest

from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

UTC = dt.timezone.utc


def _batch(spark, i: int):
    return spark.createDataFrame(
        [("U", f"c{i}", 0, "user", f"v{i}",
          dt.datetime(2025, 1, 1, tzinfo=UTC) + dt.timedelta(minutes=i), i, 0)],
        "op string, conv_id string, turn_idx int, role string, text string, "
        "ts timestamp, seq long, src_partition int",
    )


@pytest.fixture()
def table(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4)
    marks = []
    for i in range(3):
        sink.merge(_batch(spark, i), batch_token=f"b{i}")
        time.sleep(0.05)
        marks.append(time.time())  # strictly after commit i
        time.sleep(0.05)
    return sink, marks


def test_snapshot_as_of_resolves_between_commits(spark, table):
    sink, marks = table
    sids = [sink.snapshot_as_of(m) for m in marks]
    assert sids[-1] == sink.current_snapshot_id
    assert len(set(sids)) == 3  # three distinct commits resolved
    # the resolved snapshot's state is the i-th prefix of the log
    for i, sid in enumerate(sids):
        texts = {r["text"] for r in sink.read(spark, snapshot_id=sid).collect()}
        assert texts == {f"v{j}" for j in range(i + 1)}


def test_snapshot_as_of_accepts_iso_datetime_epoch(table):
    sink, marks = table
    epoch = marks[-1]
    as_dt = dt.datetime.fromtimestamp(epoch, UTC)
    iso = as_dt.isoformat()
    assert (
        sink.snapshot_as_of(epoch)
        == sink.snapshot_as_of(as_dt)
        == sink.snapshot_as_of(iso)
        == sink.current_snapshot_id
    )


def test_snapshot_as_of_before_history_is_loud(table):
    sink, marks = table
    with pytest.raises(ValueError, match="no snapshot exists at or before"):
        sink.snapshot_as_of(marks[0] - 3600)


def test_commit_stamps_are_monotone_and_history_lists_newest_first(table):
    sink, _ = table
    hist = sink.history()
    assert hist[0]["snapshot_id"] == sink.current_snapshot_id
    stamps = [h["committed_at"] for h in hist]
    assert stamps == sorted(stamps, reverse=True)
    assert [h["parent"] for h in hist][:-1] == [h["snapshot_id"] for h in hist][1:]
    assert hist[0]["rows"] is not None
    assert sink.history(limit=2) == hist[:2]


def test_committed_at_falls_back_to_mtime_for_old_manifests(table):
    """Tables written before the stamp existed must still time-travel:
    the manifest file's rename time IS the commit instant."""
    sink, marks = table
    sid = sink.current_snapshot_id
    path = sink._manifest_path(sid)
    m = json.load(open(path))
    del m["committed_at"]
    json.dump(m, open(path, "w"))
    assert sink.committed_at(sid) > 0
    assert sink.snapshot_as_of(time.time()) == sid


def test_cli_history_and_as_of(spark, table, tmp_path, capsys):
    from fetchez_spark.cli import main

    sink, marks = table
    rc = main(["snapshots", sink.table_dir, "--history"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 4  # root + 3 commits
    assert lines[0]["snapshot_id"] == sink.current_snapshot_id

    rc = main(["snapshots", sink.table_dir, "--history", "1"])
    assert rc == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 1

    # convs --as-of mid-history reads the two-commit prefix
    rc = main(["convs", sink.table_dir, "--as-of", str(marks[1])])
    assert rc == 0
    out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert out[-1]["total_conversations"] == 2

    # mutual exclusion is loud
    rc = main(["convs", sink.table_dir, "--as-of", str(marks[1]),
               "--snapshot", sink.current_snapshot_id])
    assert rc == 1


class _SteppedClock:
    """The sink module's ``time`` with the wall clock stepped back."""

    def __init__(self, back_seconds: float) -> None:
        self.back = back_seconds

    def time(self) -> float:
        return time.time() - self.back

    def __getattr__(self, name):
        return getattr(time, name)


@pytest.mark.parametrize("op", ["merge", "compact"])
def test_stamps_stay_monotone_when_the_clock_steps_back(spark, table, monkeypatch, op):
    """A commit made after the wall clock steps back 100 s is stamped
    after its parent, not before: history stays newest-first and the
    parent stays resolvable by its own stamp."""
    import fetchez_spark.sinks.local_snapshot as ls

    sink, _ = table
    parent = sink.current_snapshot_id
    parent_at = sink.committed_at(parent)
    monkeypatch.setattr(ls, "time", _SteppedClock(100.0))
    if op == "merge":
        sink.merge(_batch(spark, 3), batch_token="b3")
    else:
        sink.compact(spark)
    assert sink.manifest()["parent"] == parent
    stamps = [h["committed_at"] for h in sink.history()]
    assert stamps == sorted(stamps, reverse=True)
    assert stamps[0] > parent_at
    assert sink.snapshot_as_of(parent_at) == parent
