"""fsck: read-only structural integrity verification
(sinks/local_snapshot.py fsck, api.fsck, CLI fsck).

The CHECK TABLE an operator of a 100 TB table runs before trusting (or
repairing) it: refs resolve, manifests/blobs parse, data files exist;
``deep=True`` opens head parquet footers and checks every page's CRC.
fsck never mutates — repair stays with vacuum_orphans/expire_snapshots.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

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


def _seed(spark, tmp_path, commits=3):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4)
    for i in range(commits):
        sink.merge(
            _batch(spark, [(f"c{i}", 0, "user", f"v{i}", None, _ts(i + 1), "I", i)]),
            f"b-{i}",
        )
    return sink


def test_clean_table_passes(spark, tmp_path):
    sink = _seed(spark, tmp_path)
    sink.create_tag("v1")
    sink.create_branch("audit")
    report = sink.fsck()
    assert report["ok"], report["errors"]
    assert report["errors"] == []
    c = report["checked"]
    assert c["snapshots"] >= 3 and c["data_files"] > 0 and c["data_bytes"] > 0
    assert c["branches"] >= 2 and c["tags"] == 1
    # deep pass also green on an intact table
    assert sink.fsck(deep=True)["ok"]


def test_missing_data_file_is_an_error(spark, tmp_path):
    sink = _seed(spark, tmp_path)
    victim = next(iter(f for fs in sink.file_lists().values() for f in fs), None)
    if victim is None:  # rows still in deltas
        victim = next(f for fs in sink.delta_lists().values() for f in fs)
    os.remove(victim)
    report = sink.fsck()
    assert not report["ok"]
    assert any("data file missing" in e and victim in e for e in report["errors"])


def test_missing_list_blob_is_an_error(spark, tmp_path):
    sink = _seed(spark, tmp_path)
    lists_dir = os.path.join(str(tmp_path / "t"), "manifests", "lists")
    blobs = [f for f in os.listdir(lists_dir) if f.startswith("list-")]
    os.remove(os.path.join(lists_dir, blobs[0]))
    report = sink.fsck()
    assert not report["ok"]
    assert any("blob missing" in e for e in report["errors"])


def test_dangling_tag_and_corrupt_manifest_are_errors(spark, tmp_path):
    sink = _seed(spark, tmp_path)
    sink.create_tag("good")
    # dangle the tag by hand (simulates hand-edited / lost state)
    with open(sink._tag_path("good"), "w") as f:
        f.write("snap-9999999999")
    # corrupt a non-head retained manifest
    old = sink.snapshots()[0]
    with open(sink._manifest_path(old), "w") as f:
        f.write("{not json")
    report = sink.fsck()
    assert not report["ok"]
    assert any("tag 'good'" in e for e in report["errors"])
    assert any(f"manifest {old} unreadable" in e for e in report["errors"])


def test_orphan_dir_and_trash_are_warnings_not_errors(spark, tmp_path):
    sink = _seed(spark, tmp_path)
    # a crashed commit's leftover dir (no CLAIM, unreferenced)
    orphan = os.path.join(str(tmp_path / "t"), "data", "snap-0000009999")
    os.makedirs(os.path.join(orphan, "d"))
    with open(os.path.join(orphan, "d", "junk.parquet"), "w") as f:
        f.write("x")
    os.makedirs(os.path.join(str(tmp_path / "t"), ".trash", "doomed"))
    report = sink.fsck()
    assert report["ok"]  # debris is recoverable, not corruption
    assert any("orphan data dir" in w for w in report["warnings"])
    assert any(".trash" in w for w in report["warnings"])


def test_deep_catches_truncated_parquet_that_shallow_misses(spark, tmp_path):
    sink = _seed(spark, tmp_path)
    sink.compact(spark)  # move rows into base files
    victim = next(f for fs in sink.file_lists().values() for f in fs)
    size = os.path.getsize(victim)
    with open(victim, "r+b") as f:
        f.truncate(size // 2)  # nonzero size, broken footer
    shallow = sink.fsck()
    assert shallow["ok"]  # stat-only: size > 0 looks fine
    deep = sink.fsck(deep=True)
    assert not deep["ok"]
    assert any("footer unreadable" in e and victim in e for e in deep["errors"])


def _flip_page_byte(path: str, column: str) -> None:
    """Flip the last byte of ``column``'s first column chunk: the tail of
    its last data page's payload, covered by that page's header CRC."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    names = [md.schema.column(i).path for i in range(md.num_columns)]
    chunk = md.row_group(0).column(names.index(column))
    start = (
        chunk.dictionary_page_offset
        if chunk.has_dictionary_page
        else chunk.data_page_offset
    )
    with open(path, "r+b") as f:
        f.seek(start + chunk.total_compressed_size - 1)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))


def test_flipped_page_byte_fails_the_read_and_deep_fsck(spark, tmp_path):
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4, cluster_deltas=False)
    rows = [
        (f"c{i % 9}", i, "user", f"text {i} " * 4, None, _ts(1), "I", i)
        for i in range(300)
    ]
    sink.merge(_batch(spark, rows).coalesce(1), "b-0")
    (victim,) = sink.delta_lists()["*"]
    assert not os.path.exists(
        os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    ), "no sidecar: the page CRCs are the only guard"
    _flip_page_byte(victim, "text")
    with pytest.raises(Exception, match="CRC checksum verification failed"):
        sink.read(spark).collect()
    assert sink.fsck()["ok"]  # stat-only
    deep = sink.fsck(deep=True)
    assert not deep["ok"]
    assert any(victim in e and "CRC" in e for e in deep["errors"]), deep["errors"]


def test_expired_parent_is_a_warning(spark, tmp_path):
    sink = _seed(spark, tmp_path, commits=4)
    sink.expire_snapshots(keep_last=2, min_age_seconds=0)
    report = sink.fsck()
    assert report["ok"], report["errors"]
    assert any("parent" in w and "expired" in w for w in report["warnings"])


def test_cli_fsck_exit_codes(spark, tmp_path, capsys):
    from fetchez_spark.cli import main

    sink = _seed(spark, tmp_path)
    assert main(["fsck", str(tmp_path / "t")]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["ok"]
    victim = next(
        iter(f for fs in sink.file_lists().values() for f in fs),
        None,
    ) or next(f for fs in sink.delta_lists().values() for f in fs)
    os.remove(victim)
    assert main(["fsck", str(tmp_path / "t"), "--deep"]) == 2
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not out["ok"]
    # a non-table path reports instead of bootstrapping one
    assert main(["fsck", str(tmp_path / "nope")]) == 2
    assert not os.path.exists(tmp_path / "nope" / "VERSION")


def test_fsck_never_reports_errors_beside_writers_and_expiry(spark, tmp_path):
    """fsck's locking claim, pinned: with commits AND expire_snapshots
    racing it, fsck may see debris warnings but must never fabricate an
    integrity ERROR (the metadata phase holds the commit lock, so it
    always sees a consistent manifest listing)."""
    import threading

    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4,
                             compact_every=10**9)
    sink.merge(
        _batch(spark, [("c0", 0, "user", "seed", None, _ts(1), "I", 1)]), "b-0"
    )
    stop = threading.Event()
    failures: list = []

    def fsck_loop():
        checker = LocalSnapshotSink(str(tmp_path / "t"))  # fresh session open
        while not stop.is_set():
            try:
                r = checker.fsck()
                if r["errors"]:
                    failures.append(r["errors"])
                    return
            except Exception as e:  # pragma: no cover - the failure we hunt
                failures.append(e)
                return

    def expire_loop():
        while not stop.is_set():
            try:
                sink.expire_snapshots(keep_last=1, min_age_seconds=3600)
            except Exception as e:  # pragma: no cover
                failures.append(e)
                return

    threads = [
        threading.Thread(target=fsck_loop, daemon=True),
        threading.Thread(target=expire_loop, daemon=True),
    ]
    for t in threads:
        t.start()
    try:
        for i in range(1, 8):
            sink.merge(
                _batch(spark, [(f"c{i}", 0, "user", f"m{i}", None,
                                _ts(i + 1), "I", i + 1)]),
                f"b-{i}",
            )
    finally:
        stop.set()
        for t in threads:
            t.join(30)
    assert not failures, f"fsck/expire raced into: {failures[0]!r}"
