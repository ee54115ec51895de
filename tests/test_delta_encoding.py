"""Delta files keep parquet dictionaries for low-cardinality columns.

Transient delta files (flat and bucket-clustered) are written with the
dictionary page capped at ``LocalSnapshotSink.DELTA_DICT_PAGE_BYTES``:
columns such as ``role``, ``tool`` and ``_src`` stay dictionary-encoded,
and near-unique ones fall back to plain encoding early.  Fold bases and
copy-on-write change sidecars keep the session's default writer.
"""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pyarrow.parquet as pq

from fetchez_spark.changegen import (
    ChangeLogSpec,
    generate_change_log,
    oracle_final_state,
    write_change_log,
)
from fetchez_spark.operators.export_view import ParquetExportView
from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
from fetchez_spark.streaming import engine
from fetchez_spark.streaming.engine import replay_batches, run_stream

UTC = dt.timezone.utc
SPEC = ChangeLogSpec(num_events=6000, num_convs=150, max_turns=8, seed=9)


def _dict_columns(path: str) -> dict[str, bool]:
    """{column: every chunk of it in ``path`` carries a dictionary page}."""
    meta = pq.read_metadata(path)
    out: dict[str, bool] = {}
    for g in range(meta.num_row_groups):
        group = meta.row_group(g)
        for c in range(group.num_columns):
            chunk = group.column(c)
            name = chunk.path_in_schema
            out[name] = out.get(name, True) and chunk.has_dictionary_page
    return out


def _deltas(sink) -> list[str]:
    return [f for fs in sink.delta_lists().values() for f in fs]


def _bases(sink) -> list[str]:
    return [f for fs in sink._resolve_map(sink.manifest()["files"]).values() for f in fs]


def test_delta_footers_dictionary_encode_low_cardinality_columns(spark, tmp_path):
    # every delta file holds well over the cap's worth of distinct text
    # (~40 B a value): 12k events in one flat file or two bucket files
    spec = ChangeLogSpec(num_events=12_000, num_convs=150, max_turns=8, seed=9)
    files = write_change_log(spec, str(tmp_path / "log"), num_chunks=2)
    for clustered in (False, True):
        sink = LocalSnapshotSink(
            str(tmp_path / f"t{clustered}"), num_buckets=2,
            cluster_deltas=clustered, compact_every=10**9,
        )
        replay_batches(spark, [files], sink)
        deltas = _deltas(sink)
        assert deltas
        for f in deltas:
            enc = _dict_columns(f)
            assert enc["role"] and enc["tool"] and enc["_src"], (clustered, f, enc)
            assert not enc["text"], (clustered, f, enc)


def _mid_cardinality_batch(spark, n: int = 6000, distinct: int = 600):
    """``text`` with ``distinct`` 200-byte values: a ~120 KB dictionary,
    above the delta cap and below parquet's 1 MiB default."""
    t0 = dt.datetime(2025, 1, 1, tzinfo=UTC)
    rows = [
        ("I", f"c{i % 64}", i // 64, "user", f"{i % distinct:04d}" + "x" * 196,
         None, t0 + dt.timedelta(seconds=i), i)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "op string, conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, seq long",
    ).coalesce(1)


def test_dictionary_cap_applies_to_deltas_only(spark, tmp_path):
    for clustered in (False, True):
        sink = LocalSnapshotSink(
            str(tmp_path / f"mor{clustered}"), num_buckets=1,
            cluster_deltas=clustered, compact_every=10**9,
        )
        sink.merge(_mid_cardinality_batch(spark), "b1")
        deltas = _deltas(sink)
        assert len(deltas) == 1
        assert not _dict_columns(deltas[0])["text"], "the cap stops the dictionary"
        sink.compact(spark)
        bases = _bases(sink)
        assert len(bases) == 1 and pq.read_metadata(bases[0]).num_rows == 6000
        assert _dict_columns(bases[0])["text"], "fold bases keep the default cap"

    cow = LocalSnapshotSink(
        str(tmp_path / "cow"), num_buckets=1, mode="cow", track_changes=True
    )
    cow.merge(_mid_cardinality_batch(spark), "b1")
    sidecars = cow._resolve_list(cow.manifest()["change_files"])
    assert len(sidecars) == 1 and "-changes" + os.sep in sidecars[0]
    assert _dict_columns(sidecars[0])["text"], "CoW sidecars keep the default cap"


def test_replay_deltas_are_smaller_than_dictionary_off_and_fold_exactly(spark, tmp_path):
    files = write_change_log(SPEC, str(tmp_path / "log"), num_chunks=6)
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=8, cluster_deltas=False,
        compact_every=10**9, async_compact=False,
    )
    replay_batches(spark, [files[0:2], files[2:4], files[4:6]], sink)
    deltas = _deltas(sink)
    assert len(deltas) == 3
    off = 0
    for i, f in enumerate(deltas):
        out = str(tmp_path / "off" / str(i))
        spark.read.parquet(f).coalesce(1).write.option(
            "parquet.enable.dictionary", "false"
        ).parquet(out)
        off += sum(os.path.getsize(os.path.join(out, n)) for n in os.listdir(out)
                   if n.endswith(".parquet"))
    capped = sum(os.path.getsize(f) for f in deltas)
    assert capped < off, (capped, off)

    sink.compact(spark)
    got = sink.read(spark).toPandas().sort_values(
        ["conv_id", "turn_idx"], kind="mergesort"
    ).reset_index(drop=True)
    want = oracle_final_state(generate_change_log(SPEC))
    assert len(got) == len(want)
    for col in ["conv_id", "turn_idx", "role", "text", "tool"]:
        pd.testing.assert_series_equal(
            got[col].reset_index(drop=True), want[col].reset_index(drop=True),
            check_names=False,
        )
    assert (got["ts"].values == want["ts"].values).all()


def test_stream_batch_of_small_files_writes_one_flat_delta(spark, tmp_path):
    files = write_change_log(
        ChangeLogSpec(num_events=2000, num_convs=100, seed=3), str(tmp_path / "log"),
        num_chunks=4,
    )
    assert spark.read.parquet(*files).rdd.getNumPartitions() > 1
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=16, cluster_deltas=False, compact_every=10**9
    )
    batches = []
    q = run_stream(
        spark, str(tmp_path / "log"), sink, str(tmp_path / "ckpt"),
        available_now=True, on_batch=lambda i, m: batches.append(i),
    )
    q.awaitTermination(300)
    assert batches == [0]
    assert len(sink.delta_lists()["*"]) == 1
    assert sink.read(spark).count() == len(
        oracle_final_state(generate_change_log(
            ChangeLogSpec(num_events=2000, num_convs=100, seed=3)
        ))
    )


def test_stream_batch_sizing_reads_no_checkpoint_log(spark, tmp_path, monkeypatch):
    # the tail sizes each batch from its plan, not from the checkpoint's
    # source log (read only by the watch_schema guard)
    def _unread(*args):
        raise AssertionError("checkpoint source log read")

    monkeypatch.setattr(engine, "_batch_source_files", _unread)
    test_stream_batch_of_small_files_writes_one_flat_delta(spark, tmp_path)


def test_export_version_dir_has_no_success_marker(spark, tmp_path):
    files = write_change_log(SPEC, str(tmp_path / "log"), num_chunks=2)
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4, compact_every=10**9)
    replay_batches(spark, [files[:1]], sink)
    exp = ParquetExportView(str(tmp_path / "exp"), sink)
    exp.refresh(spark)
    replay_batches(spark, [files[1:]], sink, token_prefix="more")
    assert exp.refresh(spark)["mode"] == "incremental"
    data = os.path.join(exp.export_dir, "data")
    assert [
        os.path.join(d, n) for d, _, names in os.walk(data) for n in names
        if "_SUCCESS" in n
    ] == []
    assert exp.fsck() == {"errors": [], "warnings": []}
    cols = ["conv_id", "turn_idx", "text"]
    got = exp.read(spark).select(*cols)
    want = sink.read(spark).select(*cols)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def _binary_encoding(spark, props) -> str:
    """Encoding a BINARY values writer made from parquet ``props`` ends on
    after ~100 KB of distinct values: over the 64 KiB delta dictionary
    cap, under parquet's 1 MiB default."""
    jvm = spark._jvm
    path = spark.sparkContext._gateway.new_array(jvm.java.lang.String, 1)
    path[0] = "c"
    binary = jvm.org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY
    desc = jvm.org.apache.parquet.column.ColumnDescriptor(path, binary, 0, 1)
    writer = props.newValuesWriter(desc)
    for i in range(100):
        writer.writeBytes(jvm.org.apache.parquet.io.api.Binary.fromString(f"{i:04d}" * 256))
    return str(writer.getEncoding())


def test_parquet_writers_share_one_values_writer_factory(spark):
    """Why a delta written while a background fold writes its bases can
    lose the dictionary cap: parquet-mr's ``ParquetProperties.build()``
    re-initializes a JVM-wide values-writer factory, so column writers
    made from one writer's properties take the settings of whichever
    writer built its properties last.  No writer option or conf key
    selects a per-writer factory.  When this starts failing, parquet
    keeps each writer's own settings and the delta cap holds under a
    concurrent fold."""
    builder = spark._jvm.org.apache.parquet.column.ParquetProperties.builder
    capped = builder().withDictionaryPageSize(LocalSnapshotSink.DELTA_DICT_PAGE_BYTES).build()
    assert _binary_encoding(spark, capped) == "PLAIN"
    builder().build()  # another writer opens with the default 1 MiB page
    assert _binary_encoding(spark, capped) == "PLAIN_DICTIONARY"
