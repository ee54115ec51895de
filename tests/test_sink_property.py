"""Engine-level property test: the FULL sink (MoR, flat deltas, tombstones,
compaction at arbitrary points) matches the oracle for any log + batching."""

from __future__ import annotations

import datetime as dt
import uuid

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fetchez_spark.schema import CHANGE_EVENT_SCHEMA
from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

T0 = dt.datetime(2024, 1, 1)

event_st = st.tuples(
    st.sampled_from(["I", "U", "D"]),
    st.integers(0, 2),
    st.integers(0, 1),
    st.integers(0, 4),
)
log_st = st.lists(event_st, min_size=1, max_size=16)


def _rows(events):
    out = []
    for seq, (op, c, t, ts_s) in enumerate(events):
        d = op == "D"
        out.append(
            (op, f"c{c}", t, None if d else "user", None if d else f"v{seq}",
             None, T0 + dt.timedelta(seconds=ts_s), seq, 0)
        )
    return out


def _oracle(rows):
    df = pd.DataFrame(rows, columns=["op", "conv_id", "turn_idx", "role", "text",
                                     "tool", "ts", "seq", "src_partition"])
    w = df.sort_values(["ts", "seq"], kind="mergesort").drop_duplicates(
        subset=["conv_id", "turn_idx"], keep="last")
    return {(r.conv_id, r.turn_idx): r.text for r in w[w["op"] != "D"].itertuples()}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    events=log_st,
    split=st.integers(1, 15),
    compact_mid=st.booleans(),
    mode=st.sampled_from(["mor", "cow"]),
    clustered=st.booleans(),
)
def test_sink_matches_oracle_any_batching_any_mode(
    spark, tmp_path_factory, events, split, compact_mid, mode, clustered
):
    rows = _rows(events)
    cut = min(split, len(rows))
    table = tmp_path_factory.mktemp("sinkprop")
    sink = LocalSnapshotSink(
        str(table),
        num_buckets=4,
        mode=mode,
        compact_every=10**9,
        # clustered=False exercises the zero-shuffle flat-delta append
        # (the fast-append scaling configuration): reads must post-filter
        # flat files and compaction must converge them into buckets
        cluster_deltas=clustered,
    )
    b1 = spark.createDataFrame(rows[:cut], CHANGE_EVENT_SCHEMA)
    sink.merge(b1, "b1")
    if compact_mid:
        sink.compact(spark)
    if rows[cut:]:
        sink.merge(spark.createDataFrame(rows[cut:], CHANGE_EVENT_SCHEMA), "b2")
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in sink.read(spark).collect()}
    assert got == _oracle(rows)


def test_lookup_prunes_to_one_bucket(spark, tmp_path):
    from fetchez_spark.changegen import ChangeLogSpec, write_change_log
    from fetchez_spark.streaming.engine import replay_batches

    chunks = write_change_log(
        ChangeLogSpec(num_events=3000, num_convs=60, seed=17), str(tmp_path / "log"), 2
    )
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=16)
    replay_batches(spark, chunks, sink)
    sink.compact(spark)  # cluster into buckets so pruning is visible
    hit = sink.lookup(spark, "conv_00000000")
    rows = hit.collect()
    assert rows and all(r["conv_id"] == "conv_00000000" for r in rows)
    # pruning: the scan reads at most 1/16th of the base files
    fl = sink.file_lists()
    total_files = sum(len(fs) for fs in fl.values())
    one_bucket = max(len(fs) for fs in fl.values())
    assert one_bucket < total_files  # manifest really is bucket-partitioned
    # cross-check against a full-scan read
    full = sink.read(spark).filter("conv_id = 'conv_00000000'").collect()
    assert {tuple(r) for r in rows} == {tuple(r) for r in full}


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"sink-property-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lookup_launches_no_job_to_learn_the_bucket(spark, tmp_path):
    """The bucket of a lookup key is a constant the optimizer folds:
    building ``lookup()`` launches no more jobs than building the
    bucket-pruned ``read()`` it delegates to, and returns its rows."""
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=16)
    rows = [("I", f"c{i}", 0, "user", f"v{i}", None, T0, i, 0) for i in range(40)]
    sink.merge(spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA), "b1")
    sink.compact(spark)
    key = "c7"
    b = next(
        int(b) for b, fs in sink.file_lists().items()
        if any(r["conv_id"] == key for r in spark.read.parquet(*fs).collect())
    )
    n_read = _jobs(spark, lambda: sink.read(spark, buckets=[b], key_eq=key))
    n_lookup = _jobs(spark, lambda: sink.lookup(spark, key))
    assert n_lookup <= n_read
    assert [r["text"] for r in sink.lookup(spark, key).collect()] == ["v7"]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    events=log_st,
    assignment=st.lists(st.booleans(), min_size=2, max_size=4),
    race_on=st.integers(0, 3),
)
def test_two_writers_any_interleaving_match_oracle(
    spark, tmp_path_factory, events, assignment, race_on
):
    """Multi-writer property: split the log into chunks, assign each chunk
    to one of TWO writer sinks on the same table, and force one commit to
    race (the interloper commits between the racer's manifest read and its
    commit-lock acquisition).  Any interleaving must reconcile to the
    last-writer-wins oracle -- the commit protocol's core claim."""
    rows = _rows(events)
    n_chunks = len(assignment)
    chunks = [rows[i::n_chunks] for i in range(n_chunks)]
    chunks = [c for c in chunks if c]
    table = tmp_path_factory.mktemp("mw")

    class _Racy(LocalSnapshotSink):
        interloper_fn = None

        def _commit_lock(self):
            if _Racy.interloper_fn is not None:
                fn, _Racy.interloper_fn = _Racy.interloper_fn, None
                fn()
            return super()._commit_lock()

    w = [
        _Racy(str(table), num_buckets=4, compact_every=10**9),
        LocalSnapshotSink(str(table), num_buckets=4, compact_every=10**9),
    ]
    seqs = [0, 0]
    for i, chunk in enumerate(chunks):
        who = int(assignment[i % len(assignment)])
        df = spark.createDataFrame(chunk, CHANGE_EVENT_SCHEMA)
        if i == race_on % len(chunks) and who == 0 and i + 1 < len(chunks):
            # inject the NEXT chunk as a concurrent commit by the other
            # writer while this one is mid-commit
            other_chunk = chunks[i + 1]
            odf = spark.createDataFrame(other_chunk, CHANGE_EVENT_SCHEMA)
            tok = f"w1-{seqs[1]}"
            seqs[1] += 1
            _Racy.interloper_fn = lambda: w[1].merge(odf, tok)
            w[0].merge(df, f"w0-{seqs[0]}")
            seqs[0] += 1
            # skip the chunk the interloper already committed
            chunks[i + 1] = []
        else:
            if not chunk:
                continue
            w[who].merge(df, f"w{who}-{seqs[who]}")
            seqs[who] += 1
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in w[0].read(spark).collect()
    }
    assert got == _oracle(rows)
    toks = w[0].manifest()["committed_batches"]
    assert len(set(toks)) == len(toks)
