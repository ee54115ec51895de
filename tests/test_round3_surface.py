"""Round-3 surface additions: IVF index persistence, the shipped example
plugin, and the engine-level user config file."""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --------------------------------------------------------- IVF persistence
def test_ivf_save_load_roundtrip_identical_assignments(spark, tmp_path):
    """A probe-serving flow must not refit per session: centroids persist
    to a JSON sidecar and a fresh-session load reproduces cell assignments
    bit-for-bit (round-2 verdict #7)."""
    from pyspark.sql import functions as F

    from fetchez_spark.functions.similarity import IVFIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFIndex(k=8, seed=42).fit(e)
    path = str(tmp_path / "ivf.json")
    idx.save(path)
    loaded = IVFIndex.load(path)
    assert loaded.centroids == idx.centroids
    assert (loaded.k, loaded.seed, loaded.vec_col) == (idx.k, idx.seed, idx.vec_col)
    a = idx.assign(e, id_col="vec_id").select("vec_id", "_cell")
    b = loaded.assign(e, id_col="vec_id").select("vec_id", "_cell")
    diff = a.alias("a").join(b.alias("b"), on="vec_id").filter(
        F.col("a._cell") != F.col("b._cell")
    )
    assert diff.count() == 0
    # and topk through the loaded index matches
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    assigned = loaded.assign(e, id_col="vec_id")
    got = [r["vec_id"] for r in loaded.topk(assigned, qv, k=5, nprobe=8).collect()]
    want = [r["vec_id"] for r in idx.topk(idx.assign(e, id_col="vec_id"), qv, k=5, nprobe=8).collect()]
    assert got == want

    import pytest

    with pytest.raises(ValueError, match="index_version"):
        bad = dict(json.load(open(path)), index_version=99)
        bad_path = str(tmp_path / "bad.json")
        json.dump(bad, open(bad_path, "w"))
        IVFIndex.load(bad_path)


# ---------------------------------------------------------- example plugin
def test_example_plugin_loads_and_runs(spark, tmp_path):
    """The shipped examples/plugin_redaction.py is the plugin template
    (reference examples/hook_reproject.py role): it must load through the
    normal plugin-dir discovery, register a working source AND transform,
    and run end-to-end into a sink."""
    from fetchez_spark import registry
    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
    from fetchez_spark.streaming.engine import replay_batches
    from fetchez_spark.transforms import get_transform

    loaded = registry.load_plugins(os.path.join(REPO, "examples"))
    assert "plugin_redaction" in loaded
    assert registry.info("csv_log") is not None

    csv = tmp_path / "changes.csv"
    csv.write_text(
        "conv_id,turn_idx,role,text,tool,ts,op,seq\n"
        "c1,0,user,mail me at bob@example.org please,,2025-01-01T09:00:00Z,upsert,1\n"
        "c1,1,assistant,sure thing,,2025-01-01T09:01:00Z,upsert,2\n"
    )
    src = registry.make_source("csv_log", path=str(csv))
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2)
    redact = get_transform("redact_emails")
    replay_batches(spark, src.batches(spark), sink, transforms=[redact])
    rows = {r["turn_idx"]: r["text"] for r in sink.read(spark).collect()}
    assert rows[0] == "mail me at [email] please"
    assert rows[1] == "sure thing"


# ------------------------------------------------------------- user config
def test_user_config_file_respected(tmp_path, monkeypatch):
    import fetchez_spark.config as cfg
    from fetchez_spark import registry
    from fetchez_spark.transforms import PRESETS, load_preset_files

    conf = tmp_path / "config.yaml"
    plug = tmp_path / "plugs"
    presets = tmp_path / "presets"
    plug.mkdir()
    presets.mkdir()
    (plug / "my_plugin.py").write_text(
        "def setup_fetchez_spark(registry):\n"
        "    registry.register_source(registry.SourceInfo(\n"
        "        'cfg_src', 'fetchez_spark.sources.inline:InlineSource',\n"
        "        'test', 'from user-config plugin dir'))\n"
    )
    (presets / "mine.yaml").write_text(
        "cfg_preset:\n  - transform: dry_run\n    args: {}\n"
    )
    conf.write_text(
        f"plugin_dir: {plug}\npreset_dir: {presets}\n"
        "sink:\n  num_buckets: 7\n  compact_every: 99\n"
        "session:\n  spark.sql.shuffle.partitions: '13'\n"
    )
    monkeypatch.setenv("FETCHEZ_SPARK_CONFIG", str(conf))
    cfg._cache = None  # drop the per-process cache
    try:
        assert cfg.plugin_dir() == str(plug)
        assert cfg.sink_defaults() == {"num_buckets": 7, "compact_every": 99}
        assert cfg.session_conf() == {"spark.sql.shuffle.partitions": "13"}

        loaded = registry.load_plugins()
        assert "my_plugin" in loaded and registry.info("cfg_src") is not None

        load_preset_files()
        assert "cfg_preset" in PRESETS

        # registry-made sinks pick up config defaults; explicit args win
        sink = registry.make_sink("local_snapshot", table_dir=str(tmp_path / "t"))
        assert sink.compact_every == 99
        assert sink.manifest()["num_buckets"] == 7
        sink2 = registry.make_sink(
            "local_snapshot", table_dir=str(tmp_path / "t2"), num_buckets=3
        )
        assert sink2.manifest()["num_buckets"] == 3
    finally:
        cfg._cache = None
        PRESETS.pop("cfg_preset", None)


# --------------------------------------------------------- xml metadata
ISO_DOC = (
    '<gmi:MI_Metadata xmlns:gmi="http://www.isotc211.org/2005/gmi" '
    'xmlns:gmd="http://www.isotc211.org/2005/gmd" '
    'xmlns:gco="http://www.isotc211.org/2005/gco">'
    "<gmd:identificationInfo><gmd:citation>"
    "<gmd:title><gco:CharacterString>Survey H12345</gco:CharacterString></gmd:title>"
    "<gmd:date><gco:Date>2024-03-01</gco:Date></gmd:date>"
    "</gmd:citation>"
    "<gmd:abstract><gco:CharacterString>Multibeam bathymetry.</gco:CharacterString></gmd:abstract>"
    "</gmd:identificationInfo></gmi:MI_Metadata>"
)


def test_xml_metadata_transforms(spark):
    """iso_xml analog (reference core.py:194-290): title/abstract/date out
    of ISO-19115-shaped XML via JVM-side from_xml (lenient like the
    reference's recover=True parse), plus generic from_xml struct parsing
    -- zero Python in the row path."""
    from fetchez_spark.transforms import get_transform

    df = spark.createDataFrame(
        [(1, ISO_DOC), (2, "<broken")], ["id", "xml"]
    )
    meta = get_transform("xml_metadata")(df).orderBy("id").collect()
    assert meta[0]["meta_title"] == "Survey H12345"
    assert meta[0]["meta_abstract"] == "Multibeam bathymetry."
    assert meta[0]["meta_date"] == "2024-03-01"
    assert meta[1]["meta_title"] is None  # malformed doc -> NULL, no crash

    plain = spark.createDataFrame(
        [(1, "<doc><title>T</title><abstract>A</abstract><date>D</date></doc>")],
        ["id", "xml"],
    )
    parsed = get_transform(
        "parse_xml", schema="title STRING, abstract STRING, date STRING",
        drop_source=True,
    )(plain).first()
    assert parsed["meta"]["title"] == "T" and "xml" not in parsed.asDict()


# ------------------------------------------------- CoW precise read_changes
def test_cow_read_changes_is_batch_precise(spark, tmp_path):
    """With track_changes (default), a CoW table's read_changes returns
    exactly the batch rows -- not every surviving row of the rewritten
    buckets (the round-2 documented over-approximation)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

    UTC = dt.timezone.utc

    def _b(rows):
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, "
            "ts timestamp, op string, seq long",
        )

    t1 = dt.datetime(2025, 1, 1, 9, tzinfo=UTC)
    t2 = dt.datetime(2025, 1, 1, 10, tzinfo=UTC)
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=1, mode="cow")
    sink.merge(_b([("c1", 0, "user", "one", None, t1, "upsert", 1),
                   ("c2", 0, "user", "two", None, t1, "upsert", 2)]), "m-0")
    s1 = sink.current_snapshot_id
    # second batch touches the SAME bucket (num_buckets=1): the rewrite
    # re-emits c1/c2, but the change set is just c3
    sink.merge(_b([("c3", 0, "user", "three", None, t2, "upsert", 3)]), "m-1")
    changed = sink.read_changes(spark, s1).collect()
    assert [(r["conv_id"], r["text"]) for r in changed] == [("c3", "three")]
    # the sidecar survives vacuum (it lives under the snapshot dir)
    sink.vacuum_orphans()
    assert sink.read_changes(spark, s1).count() == 1

    # fallback: tracking off -> file-granular over-approximation (documented)
    sink2 = LocalSnapshotSink(
        str(tmp_path / "t2"), num_buckets=1, mode="cow", track_changes=False
    )
    sink2.merge(_b([("c1", 0, "user", "one", None, t1, "upsert", 1)]), "m-0")
    s1b = sink2.current_snapshot_id
    sink2.merge(_b([("c3", 0, "user", "three", None, t2, "upsert", 3)]), "m-1")
    over = {r["conv_id"] for r in sink2.read_changes(spark, s1b).collect()}
    assert "c3" in over and len(over) >= 2


# ----------------------------------------------------- type-widening evolution
def test_merge_schemas_widens_safe_numeric_types():
    import pytest
    from pyspark.sql import types as T

    from fetchez_spark.schema import merge_schemas

    base = T.StructType([T.StructField("k", T.StringType()),
                         T.StructField("n", T.IntegerType()),
                         T.StructField("x", T.FloatType())])
    wide = T.StructType([T.StructField("n", T.LongType()),
                         T.StructField("x", T.DoubleType())])
    out = merge_schemas(base, wide)
    got = {f.name: f.dataType.simpleString() for f in out.fields}
    assert got == {"k": "string", "n": "bigint", "x": "double"}
    # narrower batch into an already-wide table: table type wins, no error
    narrow = T.StructType([T.StructField("n", T.IntegerType())])
    out2 = merge_schemas(out, narrow)
    assert [f.dataType.simpleString() for f in out2.fields if f.name == "n"] == ["bigint"]
    with pytest.raises(TypeError, match="conflict"):
        merge_schemas(base, T.StructType([T.StructField("n", T.StringType())]))


def test_sink_widening_evolution_end_to_end(spark, tmp_path):
    """A mid-stream int->long promotion: the first batch writes int32
    files, the second evolves the column to long; reads union BOTH file
    generations under the widened schema (parquet upcasts -- verified on
    this Spark build) and later narrow batches cast up on write."""
    import datetime as dt

    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

    UTC = dt.timezone.utc
    t = dt.datetime(2025, 1, 1, 9, tzinfo=UTC)
    ddl = ("conv_id string, turn_idx int, role string, text string, tool string, "
           "ts timestamp, op string, seq long, score {st}")
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2)
    sink.merge(
        spark.createDataFrame(
            [("c1", 0, "u", "a", None, t, "upsert", 1, 10)], ddl.format(st="int")
        ),
        "w-0",
    )
    sink.merge(
        spark.createDataFrame(
            [("c2", 0, "u", "b", None, t, "upsert", 2, 3_000_000_000)],
            ddl.format(st="long"),
        ),
        "w-1",
    )
    # narrow again after widening: casts up on write, no conflict
    sink.merge(
        spark.createDataFrame(
            [("c3", 0, "u", "c", None, t, "upsert", 3, 7)], ddl.format(st="int")
        ),
        "w-2",
    )
    types = {f.name: f.dataType.simpleString() for f in sink.schema().fields}
    assert types["score"] == "bigint"
    got = {r["conv_id"]: r["score"] for r in sink.read(spark).collect()}
    assert got == {"c1": 10, "c2": 3_000_000_000, "c3": 7}
    # compaction folds the mixed-generation files without error
    sink.compact(spark)
    got2 = {r["conv_id"]: r["score"] for r in sink.read(spark).collect()}
    assert got2 == got


def test_iceberg_widening_ddl(spark):
    from pyspark.sql import types as T

    from fetchez_spark.sinks.iceberg import IcebergSink, alter_widen_column_sql

    parser = spark._jsparkSession.sessionState().sqlParser()
    ddl = alter_widen_column_sql("fz.db.t", "score", T.LongType())
    parser.parsePlan(ddl)
    # identifiers are backtick-quoted since r4 (ADVICE r3: reserved words)
    assert ddl == "ALTER TABLE `fz`.`db`.`t` ALTER COLUMN `score` TYPE bigint"

    sink = object.__new__(IcebergSink)
    issued: list[str] = []

    class _Rec:
        def sql(self, q):
            issued.append(" ".join(q.split()))

    sink.spark = _Rec()
    sink.table = "fz.db.t"
    sink._target_schema = lambda: T.StructType(
        [T.StructField("conv_id", T.StringType()), T.StructField("score", T.IntegerType())]
    )
    rows = spark.createDataFrame([("c", 5, "x")], "conv_id string, score long, note string")
    evolved = sink._evolve_schema(rows)
    assert sorted(evolved) == ["note", "score"]
    assert issued == [
        "ALTER TABLE `fz`.`db`.`t` ADD COLUMNS (`note` string)",
        "ALTER TABLE `fz`.`db`.`t` ALTER COLUMN `score` TYPE bigint",
    ]


def test_cli_maintain_command(spark, tmp_path, capsys):
    """CLI maintenance surface: compact + vacuum + expire + rollback in
    one dispatch (the table-upkeep analog of the reference's cleanup
    utilities), JSON result on stdout."""
    import datetime as dt
    import json as _json

    from fetchez_spark.cli import main
    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

    t = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2, compact_every=10**9)
    for i in range(2):
        sink.merge(
            spark.createDataFrame(
                [(f"c{i}", 0, "u", "x", None, t, "upsert", i)],
                "conv_id string, turn_idx int, role string, text string, tool string, "
                "ts timestamp, op string, seq long",
            ),
            f"m-{i}",
        )
    rc = main(["maintain", str(tmp_path / "t"), "--compact", "--vacuum", "--cores", "2"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["compact"]["compacted_buckets"] >= 1
    assert "vacuumed_orphans" in out
    assert sink.read(spark).count() == 2
    # no-op invocation is a loud usage error
    assert main(["maintain", str(tmp_path / "t")]) == 1


def test_ivf_save_to_table_catalog_roundtrip(spark, tmp_path):
    """Centroids persisted INTO the table's catalog (ann_index blob):
    survive later merge commits AND snapshot expiry, load in a fresh
    session object with identical assignments."""
    import datetime as dt

    from fetchez_spark.functions.similarity import IVFIndex
    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFIndex(k=8, seed=42).fit(e)
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2, compact_every=10**9)
    sid = idx.save_to_table(sink)
    assert sink.manifest()["snapshot_id"] == sid
    # a later data commit carries the index ref forward
    t = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    sink.merge(
        spark.createDataFrame(
            [("c1", 0, "u", "x", None, t, "upsert", 1)],
            "conv_id string, turn_idx int, role string, text string, tool string, "
            "ts timestamp, op string, seq long",
        ),
        "m-0",
    )
    fresh = LocalSnapshotSink(str(tmp_path / "t"))
    loaded = IVFIndex.load_from_table(fresh)
    assert loaded.centroids == idx.centroids
    # snapshot expiry keeps the ann_index blob alive
    sink.expire_snapshots(keep_last=1)
    assert IVFIndex.load_from_table(sink).centroids == idx.centroids

    import pytest

    empty = LocalSnapshotSink(str(tmp_path / "t2"), num_buckets=2)
    with pytest.raises(KeyError, match="ann_index"):
        IVFIndex.load_from_table(empty)


def test_search_index_mixed_type_column_filters_not_crashes(tmp_path):
    """CSV inventories routinely mix '123' and 'unknown' in one column;
    a range filter must drop the incomparable record, not TypeError."""
    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

    f = tmp_path / "inv.csv"
    f.write_text("name,link,size\nx,/d/x,123\ny,/d/y,unknown\n")
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2)
    sink.ingest_index(str(f))
    hits = sink.search_index(ranges={"size": (100, None)})
    assert [h["name"] for h in hits] == ["x"]


def test_expire_keep_last_zero_keeps_current_only(spark, tmp_path):
    import datetime as dt

    from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

    t = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=2, compact_every=10**9)
    for i in range(3):
        sink.merge(
            spark.createDataFrame(
                [(f"c{i}", 0, "u", "x", None, t, "upsert", i)],
                "conv_id string, turn_idx int, role string, text string, tool string, "
                "ts timestamp, op string, seq long",
            ),
            f"m-{i}",
        )
    sink.expire_snapshots(keep_last=0, min_age_seconds=0)
    assert sink.snapshots() == [sink.current_snapshot_id], (
        "keep_last=0 keeps exactly the current pointer (was a silent no-op)"
    )
    assert sink.read(spark).count() == 3
