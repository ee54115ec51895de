"""Key-column type discipline (bucket-hash integrity).

Bucket clustering and file key-range stats both hash/record the key
under its table type, and Spark's Murmur3 of int(5) (4 bytes) !=
long(5) (8 bytes).  Pre-fix, a batch whose key column arrived under
another width silently clustered rows into buckets that lookups never
probe (found while designing import_files; reproduced: lookup(0)
returned [] for a live row).  The merge now casts NARROWER batch keys
up to the recorded type and refuses WIDENING the key type outright.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

UTC = dt.timezone.utc
T0 = dt.datetime(2025, 1, 1, tzinfo=UTC)

DDL = "op string, k {kt}, v string, ts timestamp, seq long, src_partition int"


def _batch(spark, kt, rows):
    return spark.createDataFrame(
        [("U", k, v, T0, s, 0) for (k, v, s) in rows], DDL.format(kt=kt)
    )


def _divergent_key(spark, nb=8) -> int:
    """A value whose int-hash and long-hash land in DIFFERENT buckets
    (the case a fixed modulus can mask by coincidence)."""
    rows = spark.range(64).select(
        "id",
        F.pmod(F.hash(F.col("id").cast("int")), F.lit(nb)).alias("bi"),
        F.pmod(F.hash(F.col("id").cast("long")), F.lit(nb)).alias("bl"),
    ).collect()
    return next(int(r.id) for r in rows if r.bi != r.bl)


def test_narrow_batch_key_casts_up_before_clustering(spark, tmp_path):
    k = _divergent_key(spark)
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=8, key=["k"], cluster_deltas=True
    )
    sink.merge(_batch(spark, "long", [(2**40, "b", 1)]), "b0")
    # narrower key width: pre-fix this clustered under hash(int) and the
    # long-typed lookup probed a different bucket -> silently empty
    sink.merge(_batch(spark, "int", [(k, "a", 2)]), "b1")
    assert [(r.k, r.v) for r in sink.lookup(spark, k).collect()] == [(k, "a")]
    sink.compact(spark)
    assert [(r.k, r.v) for r in sink.lookup(spark, k).collect()] == [(k, "a")]


def test_widening_the_key_type_is_refused(spark, tmp_path):
    sink = LocalSnapshotSink(
        str(tmp_path / "t"), num_buckets=8, key=["k"], cluster_deltas=True
    )
    sink.merge(_batch(spark, "int", [(_divergent_key(spark), "a", 1)]), "b0")
    with pytest.raises(ValueError, match="key column 'k' cannot change type"):
        sink.merge(_batch(spark, "long", [(2**40, "b", 2)]), "b1")
    # the refused merge left no partial state: same token commits after
    # the caller fixes the batch type (cast down is the caller's call)
    sink.merge(
        _batch(spark, "int", [(7, "b", 2)]), "b1"
    )
    assert sorted(r.k for r in sink.read(spark).collect()) == sorted(
        [_divergent_key(spark), 7]
    )


def test_payload_widening_still_flows(spark, tmp_path):
    """The guard is key-scoped: ordinary payload widening (int->long)
    stays the supported evolution path."""
    sink = LocalSnapshotSink(str(tmp_path / "t"), num_buckets=4, key=["k"])
    sink.merge(
        spark.createDataFrame(
            [("U", "a", 1, T0, 1, 0)],
            "op string, k string, score int, ts timestamp, seq long, src_partition int",
        ),
        "b0",
    )
    sink.merge(
        spark.createDataFrame(
            [("U", "b", 3_000_000_000, T0, 2, 0)],
            "op string, k string, score long, ts timestamp, seq long, src_partition int",
        ),
        "b1",
    )
    got = {r.k: r.score for r in sink.read(spark).collect()}
    assert got == {"a": 1, "b": 3_000_000_000}
