"""Isolate the cost components of the major fold (guide section 1.4).

Generates (once, cached in --cache, default /dev/shm/fetchez-foldprobe)
the bench's 80M change log, replays the APPEND half to get realistic delta
files, then times, with the noop sink:

  scan      read all delta files
  shuffle   + repartition(64, _bucket [, salt])
  agg       + groupBy(_bucket [, salt], key).agg(max(struct(...)))
  write     the real fold via _dedup_write_bucketed (parquet out); --salt K
            splits every bucket into K key-hash-salted files (fanout_map)

Usage: python tools/fold_probe.py [--events N] [--salt K] [--parts P]
           [--mode all|scan|shuffle|agg|agg2|write|write2] [--cache DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)



def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=80_000_000)
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--parts", type=int, default=64)
    ap.add_argument("--mode", type=str, default="all")
    ap.add_argument("--cache", type=str, default="/dev/shm/fetchez-foldprobe")
    args = ap.parse_args()

    import bench
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from fetchez_spark.session import get_spark
    from fetchez_spark.schema import INTERNAL_SEQ
    from fetchez_spark.sinks.local_snapshot import _BUCKET, LocalSnapshotSink
    from fetchez_spark.streaming.engine import replay_batches

    tag = f"{args.events}"
    cache = os.path.abspath(args.cache)
    log_dir = os.path.join(cache, f"log-{tag}")
    table_dir = os.path.join(cache, f"table-{tag}")
    os.makedirs(cache, exist_ok=True)
    if not os.path.isdir(log_dir):
        bench._write_log(args.events, log_dir)
    spark = get_spark(
        app_name="fold-probe",
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={
            "spark.local.dir": os.path.dirname(cache),
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "20000000",
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
            "spark.ui.enabled": "true",
        },
    )
    sink = LocalSnapshotSink(
        table_dir, num_buckets=64, collect_metrics=False, compact_every=10**9,
        cluster_deltas=False,
    )
    if not any(sink.delta_lists().values()):
        files = sorted(
            os.path.join(log_dir, f)
            for f in os.listdir(log_dir)
            if f.endswith(".parquet")
        )
        half = files[: len(files) // 2]
        replay_batches(spark, [half], sink, token_prefix="probe")
    m = sink.manifest()
    schema = T.StructType.fromJson(m["schema"])
    delta_files = [f for fs in sink.delta_lists().values() for f in fs]
    print(f"delta files: {len(delta_files)}", file=sys.stderr)

    # warm
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def read():
        return sink._read_files(spark, delta_files, schema).withColumn(
            _BUCKET, sink._bucket_expr(64)
        )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out = {}
    key = list(sink.key)
    order = ["ts", INTERNAL_SEQ]
    others = [f.name for f in schema.fields if f.name not in order]
    big = F.struct(*[F.col(c) for c in order], *[F.col(c) for c in others])

    def salted(df):
        cols = [F.col(_BUCKET)]
        if args.salt > 1:
            cols.append(
                F.pmod(F.xxhash64(*[F.col(c) for c in key]), F.lit(args.salt))
            )
        return cols

    for name in ("scan", "shuffle", "agg", "agg2"):
        if args.mode not in ("all", name):
            continue
        t0 = time.monotonic()
        df = read()
        if name == "scan":
            noop(df)
        elif name == "shuffle":
            noop(df.repartition(args.parts, *salted(df)))
        elif name == "agg":
            noop(
                df.repartition(args.parts, *salted(df))
                .groupBy(*salted(df), *[F.col(k) for k in key])
                .agg(F.max(big).alias("_w"))
            )
        elif name == "agg2":
            # no explicit repartition: partial agg before the exchange
            noop(
                df.groupBy(*salted(df), *[F.col(k) for k in key])
                .agg(F.max(big).alias("_w"))
            )
        out[name] = round(time.monotonic() - t0, 3)
    if args.mode in ("all", "write"):
        t0 = time.monotonic()
        sink._dedup_write_bucketed(
            read(), "probe-out", args.parts, schema,
            fanout_map={b: args.salt for b in range(64)} if args.salt > 1 else None,
        )
        out["write"] = round(time.monotonic() - t0, 3)
        import shutil

        shutil.rmtree(os.path.join(table_dir, "data", "probe-out"), ignore_errors=True)
    if args.mode in ("all", "write2"):
        # option A: partial-agg groupBy (exchange on grouping keys) ->
        # winners-only repartition on _bucket -> partitionBy write
        import shutil

        snap_dir = os.path.join(table_dir, "data", "probe-out2", "d")
        t0 = time.monotonic()
        df = read()
        won = df.groupBy(F.col(_BUCKET), *[F.col(k) for k in key]).agg(
            F.max(big).alias("_w")
        )
        rows = won.select(F.col(_BUCKET), F.col("_w.*")).select(
            *[f.name for f in schema.fields], _BUCKET
        )
        (
            rows.repartition(args.parts, F.col(_BUCKET))
            .write.partitionBy(_BUCKET)
            .mode("overwrite")
            .parquet(snap_dir)
        )
        out["write2"] = round(time.monotonic() - t0, 3)
        shutil.rmtree(os.path.join(table_dir, "data", "probe-out2"), ignore_errors=True)
    print(json.dumps({"salt": args.salt, "parts": args.parts, **out}))
    spark.stop()


if __name__ == "__main__":
    main()
