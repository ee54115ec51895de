"""Soak: many micro-batches with interleaved auto-compaction, vacuum, and
expiry -- final state must still match the oracle exactly."""

from __future__ import annotations

import pandas as pd

from fetchez_spark.changegen import ChangeLogSpec, generate_change_log, oracle_final_state, write_change_log
from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
from fetchez_spark.streaming.engine import replay_batches

SPEC = ChangeLogSpec(num_events=12_000, num_convs=200, max_turns=10, seed=77, evolve_at=0.4)


def test_soak_20_batches_with_auto_compaction(spark, tmp_path):
    chunks = write_change_log(SPEC, str(tmp_path / "log"), num_chunks=20)
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=8, compact_every=5)
    results = replay_batches(spark, chunks, sink)
    assert len(results) == 20
    compactions = [r for r in results if "compacted" in r]
    assert len(compactions) >= 3  # auto-compaction fired repeatedly

    # maintenance mid-life must not disturb state
    sink.vacuum_orphans()
    sink.expire_snapshots(keep_last=3)

    got = (
        sink.read(spark)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    expected = oracle_final_state(generate_change_log(SPEC))
    assert len(got) == len(expected)
    for col in ["conv_id", "turn_idx", "role", "text", "tool", "model"]:
        pd.testing.assert_series_equal(
            got[col].reset_index(drop=True),
            expected[col].reset_index(drop=True),
            check_names=False,
        )

    # lineage chain of committed batches is complete and unique
    committed = sink.manifest()["committed_batches"]
    assert len(committed) == 20 and len(set(committed.values())) == 20


def test_near_dedup_minhash_transform(spark):
    from fetchez_spark.transforms import get_transform

    base = "the quick brown fox jumps over the lazy dog " * 4
    df = spark.createDataFrame(
        [(1, base), (2, base + "tail"), (3, "unrelated words entirely different content " * 4)],
        ["doc_id", "text"],
    )
    t = get_transform("near_dedup_minhash")
    kept = {r["doc_id"] for r in t(df).collect()}
    assert kept == {1, 3}  # 2 dropped as near-dup of 1 (min id survives)


def test_search_finds_dedup_transforms():
    from fetchez_spark import api

    names = {r["name"] for r in api.search("jaccard")}
    assert "near_dedup_minhash" in names


def test_soak_minor_major_cadence_with_fanout(spark, tmp_path):
    """Leveled-maintenance soak: minor compaction every 4 batches bounds
    delta-file count, one major at the end folds to bases -- final state
    still equals the pandas oracle."""
    spec = ChangeLogSpec(
        num_events=9_000, num_convs=150, max_turns=8, seed=88, evolve_at=0.5
    )
    chunks = write_change_log(spec, str(tmp_path / "log"), num_chunks=12)
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=8, compact_every=10**9
    )
    for i, chunk in enumerate(chunks):
        replay_batches(spark, [chunk], sink, token_prefix=f"s{i}")
        if (i + 1) % 4 == 0:
            sink.compact(spark, minor=True)
            n_delta = sum(len(fs) for fs in sink.delta_lists().values())
            assert n_delta <= sink.manifest()["num_buckets"]
    sink.compact(spark)
    assert all(not fs for fs in sink.delta_lists().values())

    got = (
        sink.read(spark)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    expected = oracle_final_state(generate_change_log(spec))
    assert len(got) == len(expected)
    for col in ["conv_id", "turn_idx", "role", "text", "tool", "model"]:
        pd.testing.assert_series_equal(
            got[col].reset_index(drop=True),
            expected[col].reset_index(drop=True),
            check_names=False,
        )
