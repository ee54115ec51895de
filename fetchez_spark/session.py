"""SparkSession builder with the engine's scale-oriented defaults.

Knob lineage: fetchez exposes ``-H/--threads`` / ``execution.threads``
(/root/reference/src/fetchez/cli.py:388-394, recipe.py:197-198); here the
equivalent user-visible parallelism knob is core count + shuffle
partitions, with AQE on so the runtime re-plans partition counts and
skewed joins per stage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Writer options for every file the engine writes and later reads
# through its own manifests (table data, export versions, outbox
# batches).  Spark copies writer options into the write job's Hadoop
# conf, so only these jobs swap the local ``ChecksumFileSystem`` for the
# raw one and leave no ``.crc`` sidecar beside each file: parquet-mr
# already writes a CRC32 into every page header.  The cache switch makes
# the job build its own filesystem instead of reusing the session's
# cached checksummed one.
NO_CRC_SIDECARS = {
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
}

# Reader option for engine scans of engine-written parquet: check each
# page's header CRC, so a flipped byte fails the read in any session.
# Pages without a CRC (older or foreign writers) are read unchecked.
VERIFY_PAGE_CRC = {"parquet.page.verify-checksum.enabled": "true"}


def get_spark(
    app_name: str = "fetchez-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting (backstop
        # to our explicit hot-key salting, SURVEY.md section 4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / toPandas boundary (north_rule: no
        # per-row Python anywhere).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # normalize naive parquet timestamps to TimestampType (UTC) instead
        # of NTZ so schema evolution unions stay type-stable
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # INT64 micros, not the INT96 legacy default: INT96 min/max footer
        # statistics are invalid per the parquet spec (readers must ignore
        # them), which disables BOTH the engine's footer-stats file
        # skipping (ts-window reads, tombstone-GC bucket selection) and
        # parquet row-group skipping on ts predicates.  Micros is also the
        # Iceberg/modern-ecosystem timestamp encoding.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # TypedImperativeAggregates (max_by etc.) fall back to sort-based
        # aggregation after 128 distinct keys per partition by default,
        # which kills multi-core scaling on high-cardinality groupBys
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
        # zstd parquet: ~31% smaller files than the snappy default on the
        # transcript payload at indistinguishable wall time (measured,
        # interleaved trials) -- at 100 TB that is pure IO/storage savings
        .config("spark.sql.parquet.compression.codec", "zstd")
        # explicit-file-list reads (MoR folds, change feeds, stats jobs)
        # routinely pass 64-1000 paths; above this threshold Spark spawns
        # a DISTRIBUTED listing job (one extra job + schedule round-trip
        # per read).  Driver-side status of ~1k known paths is microseconds
        # on any filesystem, so keep the job for genuinely huge listings
        # only.  Default is 32, which taxed every fold and every serving
        # increment with a listing job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # streaming checkpoint logs go through FileContext: the raw local
        # AbstractFileSystem leaves no .crc beside each offset, commit and
        # metadata file.  fs.file.impl (the FileSystem API) stays the
        # checksummed default for the session: RocksDB's state store
        # casts FileSystem.getLocal() to LocalFileSystem.
        .config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # user config file (~/.fetchez_spark/config.yaml `session:` map) under
    # explicit extra_conf -- explicit always wins
    from fetchez_spark.config import session_conf

    for k, v in {**session_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
