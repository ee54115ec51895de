"""Partial-update (sparse CDC event) merge mode -- per-column LWW.

``merge_mode="partial"`` (operators/partial.py): a NULL payload column on
an update event means "unchanged"; per key and column the latest-setting
event wins; a delete resets the row.  Exactness under arbitrary batching
comes from persisted per-column (ts, seq) versions, which make the fold
associative -- these tests drive every consolidation point (merge,
read-time MoR reduction, minor/major/sorted/bin-packed compaction, CoW
rewrites, change feed, mirror replication) against one pure-python
reference fold of the raw event log; the salted two-phase fold is
checked against the one-phase fold.

(Reference analog: fetchez entries accept partial metadata updates --
entry.update(kwargs), /root/reference/src/fetchez/core.py:1128-1137.)
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fetchez_spark.operators.merge import batch_to_target_rows
from fetchez_spark.operators.partial import (
    events_to_partial_state,
    fold_partial_states,
    fold_partial_updates,
    is_partial_internal,
    pv_seq,
    pv_ts,
)
from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

UTC = dt.timezone.utc
PAYLOAD = ("role", "text", "tool")
EV_DDL = (
    "op string, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, seq long"
)


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2025, 3, 1, 0, 0, 0, tzinfo=UTC) + dt.timedelta(seconds=s)


def _expected(events):
    """Pure-python reference: per key, per-column latest non-null among
    live events with version > the latest delete; key live iff the
    latest event overall is not a delete."""
    by_key: dict = {}
    for op, cid, tix, role, text, tool, ts, seq in events:
        by_key.setdefault((cid, tix), []).append(
            (op, {"role": role, "text": text, "tool": tool}, ts, seq)
        )
    out = {}
    for k, evs in by_key.items():
        d = max(((ts, seq) for op, _, ts, seq in evs if op == "D"), default=None)
        live = [(ts, seq, p) for op, p, ts, seq in evs if op != "D"]
        lmax = max(((ts, seq) for ts, seq, _ in live), default=None)
        if lmax is None or (d is not None and d > lmax):
            continue  # absent or tombstoned
        row = {}
        for c in PAYLOAD:
            cand = [
                (ts, seq, p[c]) for ts, seq, p in live if p[c] is not None
            ]
            best = max(cand, default=None)
            row[c] = (
                best[2]
                if best is not None and (d is None or (best[0], best[1]) > d)
                else None
            )
        out[k] = (row["role"], row["text"], row["tool"], lmax[0])
    return out


def _gen_events(seed=7, n_keys=40, n_events=320):
    """Sparse event log with deletes, replays, and shared timestamps."""
    rng = random.Random(seed)
    events = []
    for i in range(1, n_events + 1):
        cid = f"c{rng.randrange(n_keys)}"
        tix = rng.randrange(2)
        if rng.random() < 0.12:
            events.append(("D", cid, tix, None, None, None, _ts(i // 3), i))
            continue
        role = f"r{rng.randrange(3)}" if rng.random() < 0.5 else None
        text = f"t{i}" if rng.random() < 0.6 else None
        tool = f"x{rng.randrange(5)}" if rng.random() < 0.3 else None
        events.append(("U", cid, tix, role, text, tool, _ts(i // 3), i))
    # exact replays (same (ts, seq)): idempotence fodder
    events += rng.sample(events, 12)
    return events


def _df(spark, events):
    return spark.createDataFrame(events, EV_DDL)


def _visible(spark, sink, snapshot_id=None):
    return {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"], r["ts"])
        for r in sink.read(spark, snapshot_id=snapshot_id).collect()
    }


def _norm(expected):
    return {
        k: (v[0], v[1], v[2], v[3].replace(tzinfo=None))
        for k, v in expected.items()
    }


def _mk(spark, tmp_path, name="t", **kw):
    base = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    kw.setdefault("num_buckets", 4)
    kw.setdefault("merge_mode", "partial")
    return LocalSnapshotSink(str(tmp_path / name), base_schema=base, **kw)


def _replay(spark, sink, events, n_batches=4):
    """Merge in HASH-split batches: late/out-of-order events land in
    different batches than the rows they patch."""
    df = _df(spark, events)
    for i in range(n_batches):
        sink.merge(
            df.filter(F.pmod(F.xxhash64("seq"), F.lit(n_batches)) == i),
            batch_token=f"pu-{i}",
        )
    return sink


# ---------------------------------------------------------------- operator


def test_operator_fold_semantics(spark):
    events = [
        # A: full insert, then two disjoint partial updates coalesce
        ("U", "A", 0, "user", "hello", "t0", _ts(1), 1),
        ("U", "A", 0, None, "hello v2", None, _ts(2), 2),
        ("U", "A", 0, None, None, "t9", _ts(3), 3),
        # B: delete resets -- the post-delete partial starts empty
        ("U", "B", 0, "asst", "b-text", "bt", _ts(1), 4),
        ("D", "B", 0, None, None, None, _ts(2), 5),
        ("U", "B", 0, None, "b-after", None, _ts(3), 6),
        # C: tombstoned (latest is a delete)
        ("U", "C", 0, "user", "c", "ct", _ts(1), 7),
        ("D", "C", 0, None, None, None, _ts(5), 8),
        # D: a LATE partial older than the delete contributes nothing
        ("D", "D", 0, None, None, None, _ts(4), 9),
        ("U", "D", 0, "user", "late", None, _ts(2), 10),
        ("U", "D", 0, None, None, "new-tool", _ts(6), 11),
    ]
    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in fold_partial_updates(
            _df(spark, events), key=["conv_id", "turn_idx"]
        ).collect()
    }
    assert got == {
        ("A", 0): ("user", "hello v2", "t9"),
        ("B", 0): (None, "b-after", None),
        ("D", 0): (None, None, "new-tool"),
    }


def test_operator_matches_reference_fold(spark):
    events = _gen_events()
    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"], r["ts"])
        for r in fold_partial_updates(
            _df(spark, events), key=["conv_id", "turn_idx"]
        ).collect()
    }
    assert got == _norm(_expected(events))


# -------------------------------------------------------------------- sink


def test_sink_replay_out_of_order_batches_match_global_fold(spark, tmp_path):
    events = _gen_events()
    sink = _replay(spark, _mk(spark, tmp_path), events)
    assert _visible(spark, sink) == _norm(_expected(events))
    # exact replay of a batch is a no-op (token idempotence)
    df = _df(spark, events)
    res = sink.merge(
        df.filter(F.pmod(F.xxhash64("seq"), F.lit(4)) == 0), batch_token="pu-0"
    )
    assert res["skipped"]
    assert _visible(spark, sink) == _norm(_expected(events))


def test_time_travel_sees_per_batch_partial_state(spark, tmp_path):
    events = _gen_events()
    sink = _mk(spark, tmp_path)
    df = _df(spark, events)
    res0 = sink.merge(
        df.filter(F.pmod(F.xxhash64("seq"), F.lit(4)) == 0), batch_token="pu-0"
    )
    sink.merge(
        df.filter(F.pmod(F.xxhash64("seq"), F.lit(4)) != 0), batch_token="pu-1"
    )
    # snapshot after batch 0 folds EXACTLY batch 0's events; recompute
    # the batch membership on the JVM side to mirror the split
    in_b0 = {
        r["seq"]
        for r in df.filter(F.pmod(F.xxhash64("seq"), F.lit(4)) == 0)
        .select("seq")
        .collect()
    }
    exp0 = _expected([e for e in events if e[7] in in_b0])
    assert _visible(spark, sink, snapshot_id=res0["snapshot_id"]) == _norm(exp0)


@pytest.mark.parametrize(
    "compact_kw",
    [
        {"minor": True},
        {},
        {"sort": True},
        {"target_file_bytes": 4096},
    ],
    ids=["minor", "major", "sorted", "binpacked"],
)
def test_compaction_preserves_partial_state(spark, tmp_path, compact_kw):
    events = _gen_events()
    sink = _replay(spark, _mk(spark, tmp_path), events)
    sink.compact(spark, **compact_kw)
    assert _visible(spark, sink) == _norm(_expected(events))


def test_cow_partial_mode(spark, tmp_path):
    events = _gen_events(seed=11)
    sink = _replay(spark, _mk(spark, tmp_path, mode="cow"), events)
    assert _visible(spark, sink) == _norm(_expected(events))


def test_salted_partial_fold_equals_unsalted(spark):
    """``salt > 1`` folds in two phases (per-event salt, then the key);
    the fold is associative, so the result equals the one-phase fold."""
    key = ["conv_id", "turn_idx"]
    events = _gen_events(seed=13)
    state = events_to_partial_state(batch_to_target_rows(_df(spark, events)), key)

    def folded(salt):
        return sorted(
            tuple(r) for r in fold_partial_states(state, key=key, salt=salt).collect()
        )

    plain = folded(0)
    assert len(plain) < len(events)
    assert folded(4) == plain


def test_flat_deltas_partial(spark, tmp_path):
    events = _gen_events(seed=17)
    sink = _replay(spark, _mk(spark, tmp_path, cluster_deltas=False), events)
    assert _visible(spark, sink) == _norm(_expected(events))
    sink.compact(spark)
    assert _visible(spark, sink) == _norm(_expected(events))


# ------------------------------------------------------------- change feed


def test_change_feed_partial_post_images(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.merge(
        _df(
            spark,
            [
                ("U", "A", 0, "user", "hello", "t0", _ts(1), 1),
                ("U", "B", 0, "asst", "b", None, _ts(1), 2),
            ],
        ),
        batch_token="s-0",
    )
    frm = sink.current_snapshot_id
    sink.merge(
        _df(
            spark,
            [
                ("U", "A", 0, None, "hello v2", None, _ts(2), 3),  # partial
                ("D", "B", 0, None, None, None, _ts(2), 4),  # delete
                ("U", "C", 0, "user", "new", None, _ts(2), 5),  # insert
            ],
        ),
        batch_token="s-1",
    )
    feed = {
        r["conv_id"]: r.asDict()
        for r in sink.change_feed(
            spark, frm, include_pre_image=True
        ).collect()
    }
    # the partial update's POST-IMAGE is the full coalesced row
    assert feed["A"]["_change_type"] == "update"
    assert (feed["A"]["role"], feed["A"]["text"], feed["A"]["tool"]) == (
        "user",
        "hello v2",
        "t0",
    )
    assert feed["A"]["_pre_image"]["text"] == "hello"
    assert feed["B"]["_change_type"] == "delete"
    assert feed["C"]["_change_type"] == "insert"
    assert set(feed) == {"A", "B", "C"}
    # no internal columns leak
    assert not [c for c in feed["A"] if is_partial_internal(c)]


def test_change_feed_partial_no_op_range_emits_nothing(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.merge(
        _df(spark, [("U", "A", 0, "user", "hi", None, _ts(5), 1)]),
        batch_token="s-0",
    )
    frm = sink.current_snapshot_id
    # a LATE partial older than the stored column versions changes nothing
    sink.merge(
        _df(spark, [("U", "A", 0, None, "older", None, _ts(2), 0)]),
        batch_token="s-1",
    )
    assert sink.change_feed(spark, frm).count() == 0


# --------------------------------------------------------------- evolution


def test_schema_evolution_adds_version_pair(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.merge(
        _df(spark, [("U", "A", 0, "user", "hi", None, _ts(1), 1)]),
        batch_token="e-0",
    )
    wide = spark.createDataFrame(
        [("U", "A", 0, None, None, None, _ts(2), 2, "m1")],
        EV_DDL + ", meta string",
    )
    sink.merge(wide, batch_token="e-1")
    names = sink.schema(include_internal=True).names
    assert "meta" in names and pv_ts("meta") in names and pv_seq("meta") in names
    # the new column coalesces like any other; old columns survive
    row = sink.read(spark).filter(F.col("conv_id") == "A").collect()[0]
    assert (row["role"], row["text"], row["meta"]) == ("user", "hi", "m1")
    # public schema hides the version pairs
    pub = sink.schema().names
    assert not [c for c in pub if is_partial_internal(c)]


def test_schema_evolution_all_null_column_then_typed(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.merge(
        _df(spark, [("U", "A", 0, "user", "hi", None, _ts(1), 1)]),
        batch_token="n-0",
    )
    # a column arriving ALL-NULL carries no type evidence; later it
    # earns a type and coalesces normally
    nullcol = spark.createDataFrame(
        [("U", "A", 0, None, "t2", None, _ts(2), 2, None)],
        T.StructType(
            _df(spark, []).schema.fields
            + [T.StructField("meta", T.NullType(), True)]
        ),
    )
    sink.merge(nullcol, batch_token="n-1")
    typed = spark.createDataFrame(
        [("U", "A", 0, None, None, None, _ts(3), 3, "m3")],
        EV_DDL + ", meta string",
    )
    sink.merge(typed, batch_token="n-2")
    sink.compact(spark)
    row = sink.read(spark).collect()[0]
    assert (row["text"], row["meta"]) == ("t2", "m3")


# ---------------------------------------------------------------- metadata


def test_merge_mode_recorded_and_adopted(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.merge(
        _df(spark, [("U", "A", 0, "user", "hi", None, _ts(1), 1)]),
        batch_token="m-0",
    )
    # fresh open with no argument adopts the recorded mode
    again = LocalSnapshotSink(sink.table_dir)
    assert again.merge_mode == "partial"
    # conflicting explicit mode is a loud error
    with pytest.raises(ValueError, match="merge_mode"):
        LocalSnapshotSink(sink.table_dir, merge_mode="lww")
    # an lww table refuses a partial open
    other = LocalSnapshotSink(str(tmp_path / "lww"))
    with pytest.raises(ValueError, match="merge_mode"):
        LocalSnapshotSink(other.table_dir, merge_mode="partial")


def test_internal_name_collision_rejected(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    bad = spark.createDataFrame(
        [("U", "A", 0, "user", "hi", None, _ts(1), 1, "x")],
        EV_DDL + ", _pv_ts__sneaky string",
    )
    with pytest.raises(ValueError, match="internal"):
        sink.merge(bad, batch_token="x-0")
    with pytest.raises(ValueError, match="internal"):
        sink.rename_column("text", "_pv_ts__text")


def test_drop_column_removes_version_pair(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.merge(
        _df(spark, [("U", "A", 0, "user", "hi", "bash", _ts(1), 1)]),
        batch_token="d-0",
    )
    sink.drop_column("tool")
    names = sink.schema(include_internal=True).names
    assert "tool" not in names
    assert pv_ts("tool") not in names and pv_seq("tool") not in names
    # fold keeps working (compaction writes the narrowed schema)
    sink.compact(spark)
    row = sink.read(spark).collect()[0]
    assert row["text"] == "hi" and "tool" not in row.asDict()


# -------------------------------------------------- predicate DML + mirror


def test_delete_and_update_where_on_partial_table(spark, tmp_path):
    events = [
        ("U", "A", 0, "user", "hello", None, _ts(1), 1),
        ("U", "A", 0, None, None, "t1", _ts(2), 2),
        ("U", "B", 0, "asst", "bye", None, _ts(1), 3),
    ]
    sink = _replay(spark, _mk(spark, tmp_path), events, n_batches=1)
    sink.update_where(spark, "conv_id = 'A'", {"text": "'patched'"})
    st = _visible(spark, sink)
    assert st[("A", 0)][1] == "patched" and st[("A", 0)][2] == "t1"
    sink.delete_where(spark, "conv_id = 'B'")
    assert ("B", 0) not in _visible(spark, sink)


def test_mirror_replicates_partial_source(spark, tmp_path):
    from fetchez_spark.operators.mirror import TableMirror

    events = _gen_events(seed=19, n_keys=12, n_events=80)
    half = len(events) // 2
    src = _mk(spark, tmp_path, name="src")
    src.merge(_df(spark, events[:half]), batch_token="mm-0")
    mirror = TableMirror(src, str(tmp_path / "replica"))
    mirror.sync_once(spark)
    src.merge(_df(spark, events[half:]), batch_token="mm-1")
    mirror.sync_once(spark)
    assert mirror.target.merge_mode == "partial"
    assert _visible(spark, mirror.target) == _visible(spark, src)


def test_two_concurrent_writers_partial_mor(spark, tmp_path):
    """Two threads interleave MoR commits of disjoint log halves into ONE
    partial-mode table: the associative fold + append reconciliation must
    land on exactly the global fold, whatever the commit interleaving."""
    import threading

    events = _gen_events(seed=23)
    sink = _mk(spark, tmp_path)
    df = _df(spark, events)
    halves = [
        df.filter(F.pmod(F.xxhash64("seq"), F.lit(2)) == i) for i in range(2)
    ]
    errs = []

    def writer(i):
        try:
            part = halves[i]
            for j in range(3):
                sink.merge(
                    part.filter(F.pmod(F.xxhash64("conv_id"), F.lit(3)) == j),
                    batch_token=f"w{i}-{j}",
                )
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert _visible(spark, sink) == _norm(_expected(events))
    sink.compact(spark)
    assert _visible(spark, sink) == _norm(_expected(events))


def test_partial_fold_single_exchange_with_partial_agg(spark, tmp_path):
    """The partial fold must keep the LWW reduction's plan shape: partial
    (map-side) aggregation below ONE hash Exchange, final aggregation
    above it -- duplicate/hot-key mass collapses before the shuffle, and
    compaction still moves the table exactly once."""
    from fetchez_spark.operators.partial import fold_partial_states

    events = _gen_events(seed=29, n_keys=10, n_events=60)
    sink = _replay(spark, _mk(spark, tmp_path), events, n_batches=1)
    m = sink.manifest()
    schema = T.StructType.fromJson(m["schema"])
    files = [f for fs in sink.delta_lists().values() for f in fs]
    df = sink._read_files(spark, files, schema)
    folded = fold_partial_states(df, key=sink.key)
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    # partial + final aggregate stages around that one Exchange
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2, (
        plan[:2000]
    )
