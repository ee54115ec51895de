"""CLI front-end: ``python -m fetchez_spark <cmd>``.

Mirrors the reference CLI's informational surface (--modules, --search,
--info, --list-hooks, --hook-info -- /root/reference/src/fetchez/
cli.py:532-635) plus recipe dispatch (cli.py:498-511), dry-run, the
direct ``ingest <source> k=v ...`` form with source-signature
introspection (cli.py:113-163 auto-flags), and catalog search over
snapshot metadata (fred.py:153-221 analog).
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import sys


def _coerce(value: str, annotation) -> object:
    """Parse a k=v string per the target parameter's annotation/default --
    the reference builds argparse flags from the source-class signature
    (cli.py:113-163); here the coercion happens at dispatch time."""
    ann = str(annotation)
    if value.lower() in ("none", "null"):
        return None
    if "bool" in ann:
        return value.lower() in ("1", "true", "yes", "on")
    if "int" in ann:
        return int(value)
    if "float" in ann:
        return float(value)
    if "list" in ann or value.startswith("["):
        return json.loads(value)
    return value


def _num(x: str):
    """'' -> None (open bound); numeric strings -> int/float; else str."""
    if x == "":
        return None
    try:
        return int(x)
    except ValueError:
        try:
            return float(x)
        except ValueError:
            return x


def introspect_source_args(cls) -> dict[str, dict]:
    """{param: {annotation, default, required}} from the class signature."""
    out: dict[str, dict] = {}
    sig = inspect.signature(cls.__init__)
    for name, p in sig.parameters.items():
        if name in ("self",) or p.kind in (p.VAR_POSITIONAL, p.VAR_KEYWORD):
            continue
        out[name] = {
            "annotation": None if p.annotation is p.empty else str(p.annotation),
            "default": None if p.default is p.empty else p.default,
            "required": p.default is p.empty,
        }
    return out


def _parse_kv(pairs: list[str], cls, check_required: bool = True) -> dict:
    spec = introspect_source_args(cls)
    args: dict = {}
    for pair in pairs:
        k, sep, v = pair.partition("=")
        if not sep:
            raise SystemExit(f"expected key=value, got {pair!r}")
        if k not in spec:
            raise SystemExit(
                f"unknown arg {k!r} for {cls.__name__}; accepts: {sorted(spec)}"
            )
        args[k] = _coerce(v, spec[k]["annotation"] or type(spec[k]["default"]).__name__)
    if check_required:
        missing = [k for k, s in spec.items() if s["required"] and k not in args]
        if missing:
            raise SystemExit(f"missing required args for {cls.__name__}: {missing}")
    return args


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="fetchez-spark",
        description="PySpark-native CDC / incremental-ingest engine",
    )
    from fetchez_spark import __version__

    parser.add_argument("--version", action="version", version=f"fetchez-spark {__version__}")
    sub = parser.add_subparsers(dest="cmd")

    sub.add_parser("sources", help="list registered change sources")
    sub.add_parser("sinks", help="list registered sinks")
    p = sub.add_parser("transforms", help="list registered transforms")
    p.add_argument("--stage", choices=["pre", "file", "post"])
    p = sub.add_parser("search", help="full-text search sources/sinks/transforms")
    p.add_argument("term")
    p = sub.add_parser("info", help="details for a source/sink/transform")
    p.add_argument("name")
    p = sub.add_parser("run", help="run a YAML/JSON recipe")
    p.add_argument("recipe")
    p.add_argument("--dry-run", action="store_true", help="plan only, commit nothing")
    p = sub.add_parser(
        "ingest",
        help="direct run without a recipe: ingest <source> k=v ... "
        "--table <dir> (args introspected from the source class)",
    )
    p.add_argument("source")
    p.add_argument("kv", nargs="*", help="source args as key=value")
    p.add_argument("--table", required=True, help="target table dir (local_snapshot)")
    p.add_argument("--sink-arg", action="append", default=[], help="sink key=value")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--show-args", action="store_true", help="print the introspected signature and exit")
    p = sub.add_parser(
        "snapshots", help="search snapshot metadata of a table (catalog search)"
    )
    p.add_argument("table_dir")
    p.add_argument("--where", action="append", default=[], help="equality filter key=value")
    p.add_argument("--range", action="append", default=[], dest="ranges",
                   help="range filter key=lo:hi ('' leaves a bound open)")
    p.add_argument("--history", nargs="?", const=-1, type=int, default=None,
                   metavar="N",
                   help="print the commit history (newest first, optionally "
                        "limited to N entries) instead of searching")
    p.add_argument("--files", nargs="?", const="", default=None,
                   metavar="SNAPSHOT",
                   help="print one JSON record per referenced data file "
                        "(the $files metadata table; optionally AS-OF a "
                        "snapshot/tag/branch) instead of searching")
    p = sub.add_parser(
        "ingest-index",
        help="import an external CSV/JSON inventory into a table's catalog "
        "(searchable via `index`)",
    )
    p.add_argument("table_dir")
    p.add_argument("source_file")
    p.add_argument("--map", action="append", default=[], dest="maps",
                   help="field mapping input_header=catalog_field")
    p.add_argument("--wipe", action="store_true", help="replace existing index records")
    p = sub.add_parser(
        "index", help="search a table's ingested catalog index records"
    )
    p.add_argument("table_dir")
    p.add_argument("--where", action="append", default=[], help="equality filter key=value")
    p.add_argument("--range", action="append", default=[], dest="ranges",
                   help="range filter key=lo:hi ('' leaves a bound open)")
    p = sub.add_parser(
        "maintain",
        help="table maintenance: compaction / vacuum / snapshot expiry / rollback",
    )
    p.add_argument("table_dir")
    p.add_argument("--compact", action="store_true", help="major compaction (fold deltas into bases)")
    p.add_argument("--minor", action="store_true", help="minor compaction (consolidate delta files only)")
    p.add_argument("--vacuum", action="store_true", help="delete orphaned data dirs (crashed commits)")
    p.add_argument("--expire", type=int, default=None, metavar="KEEP_LAST",
                   help="expire all but the newest N snapshots (GCs data + list blobs)")
    p.add_argument("--rollback", default=None, metavar="SNAPSHOT_ID",
                   help="move the table pointer back to a snapshot")
    p.add_argument("--min-bucket-bytes", type=int, default=None,
                   help="size-aware compaction: fold only buckets whose "
                        "delta bytes reach this threshold")
    p.add_argument("--target-file-bytes", type=int, default=None,
                   help="bin-pack compacted buckets toward this file size")
    p.add_argument("--sort", action="store_true",
                   help="range-cluster compacted buckets on the table key and "
                        "record per-file key-range stats (file-skipping point "
                        "lookups; the Iceberg sort-order analog)")
    p.add_argument("--bloom", action="store_true",
                   help="write a footer bloom of the leading key into the "
                        "output files: lookups skip row groups it excludes "
                        "(dictionary-encoded chunks get none; their dictionary "
                        "prunes)")
    p.add_argument("--cluster-by", default=None, metavar="COL[,COL...]",
                   help="Z-ORDER compacted buckets on these numeric/timestamp "
                        "columns and record per-file min/max stats (multi-"
                        "column slab skipping; the Delta OPTIMIZE ZORDER "
                        "analog; mutually exclusive with --sort)")
    p.add_argument("--rebucket", type=int, default=None, metavar="NUM_BUCKETS",
                   help="rewrite the table into this many hash buckets (online "
                        "layout evolution; concurrent writers reconcile)")
    p.add_argument("--delete-where", default=None, metavar="SQL_PREDICATE",
                   help="tombstone every visible key whose winner row matches "
                        "the predicate (one merge commit; GDPR erasure step 1)")
    p.add_argument("--purge-tombstones", default=None, metavar="BEFORE",
                   help="physically drop tombstones older than this ISO "
                        "timestamp; buckets selected by parquet footer stats "
                        "(GDPR erasure step 2 / the VACUUM-of-deletes analog)")
    p.add_argument("--purge-expired", default=None, metavar="BEFORE",
                   help="physically drop rows older than this ISO timestamp "
                        "(row-TTL second half); buckets selected by parquet "
                        "footer ts stats")
    p.add_argument("--update-where", default=None, metavar="SQL_PREDICATE",
                   help="patch every visible key whose winner row matches the "
                        "predicate with the --set assignments (one merge "
                        "commit; row-level UPDATE as a change event)")
    p.add_argument("--set", action="append", default=[], metavar="COL=SQL_EXPR",
                   dest="set_assignments",
                   help="assignment for --update-where (repeatable); the "
                        "expression is evaluated over the winner row")
    p.add_argument("--rename-column", default=None, metavar="OLD=NEW",
                   help="rename a payload column, metadata-only (zero data "
                        "movement; reads/merges/predicates speak the new "
                        "name from this snapshot on)")
    p.add_argument("--drop-column", default=None, metavar="NAME",
                   help="drop a payload column, metadata-only (bytes leave "
                        "as buckets compact; the name is retired)")
    p.add_argument("--requeue-quarantine", action="store_true",
                   help="re-submit quarantined rows through the merge with "
                        "today's gates (dead-letter replay: fixed rows land, "
                        "still-bad rows re-quarantine, originals removed "
                        "after their commit)")
    p.add_argument("--set-property", action="append", default=[],
                   metavar="NAME=VALUE", dest="set_properties",
                   help="record a table property (maintenance/retention "
                        "policy: auto_compact_bytes, target_file_bytes, "
                        "row_ttl_seconds, ...) in one metadata-only commit "
                        "— the SET TBLPROPERTIES analog; NAME= unsets")
    p.add_argument("--properties", action="store_true",
                   help="print the recorded table properties")
    p.add_argument("--add-expectation", action="append", default=[],
                   metavar="NAME:ACTION:SQL_CONDITION", dest="add_expectations",
                   help="record a write-time data-quality gate on the TABLE "
                        "(every writer enforces it) — the ADD CONSTRAINT "
                        "analog; ACTION is fail/drop/quarantine")
    p.add_argument("--drop-expectation", action="append", default=[],
                   metavar="NAME", dest="drop_expectations",
                   help="remove a recorded expectation")
    p.add_argument("--report", action="store_true",
                   help="print the table health report (per-bucket bytes/"
                        "files, skew, recommendations) — metadata only, no "
                        "Spark job")
    p.add_argument("--auto", action="store_true",
                   help="one-button maintenance: execute exactly what the "
                        "health report recommends plus the always-safe "
                        "sweeps (combine with --expire N to also trim "
                        "history; --dry-run to preview)")
    p.add_argument("--dry-run", action="store_true",
                   help="with --auto: print the plan without executing")
    p.add_argument("--cores", type=int, default=4)
    p = sub.add_parser(
        "clone",
        help="zero-copy clone: new table referencing the source's files "
             "(SHALLOW CLONE analog; pinned against source expiry by a tag)",
    )
    p.add_argument("table_dir")
    p.add_argument("target_dir")
    p.add_argument("--ref", default=None,
                   help="snapshot id / tag / branch to clone (default: head)")
    p.add_argument("--tag-name", default=None,
                   help="name of the protective source tag (default: clone-<hex>)")
    p = sub.add_parser(
        "import",
        help="zero-copy onboarding of existing parquet files (Iceberg "
             "add_files analog): register them as flat deltas in one "
             "metadata commit -- no rewrite, no copy",
    )
    p.add_argument("table_dir")
    p.add_argument("paths", nargs="+",
                   help="parquet files or directories to adopt in place")
    p.add_argument("--token", default=None,
                   help="idempotence token (default: content-addressed "
                        "from the file list)")
    p.add_argument("--no-validate", action="store_true",
                   help="skip the one-pass null-key/null-ts scan")
    p.add_argument("--incremental", action="store_true",
                   help="drop-folder tail: silently skip files this table "
                        "has ever imported (poll a growing directory)")
    p.add_argument("--stats", action="store_true",
                   help="record per-file leading-key ranges so point "
                        "lookups prune imported files before compaction")
    p.add_argument("--cores", type=int, default=4)
    p = sub.add_parser(
        "fsck",
        help="read-only integrity check: refs/manifests/blobs/data files "
             "all resolve (--deep also opens head parquet footers); exit "
             "2 on errors, 0 otherwise",
    )
    p.add_argument("table_dir")
    p.add_argument("--deep", action="store_true",
                   help="also verify the head snapshot's parquet footers "
                        "and per-file columns (reads every head file's "
                        "metadata; still no Spark job)")
    p = sub.add_parser(
        "branch", help="WAP branches: create / publish / drop / list"
    )
    p.add_argument("table_dir")
    p.add_argument("--create", default=None, metavar="NAME",
                   help="create a branch at the current main head")
    p.add_argument("--from-snapshot", default=None, metavar="SNAPSHOT_ID",
                   help="fork point for --create (default: main head)")
    p.add_argument("--publish", default=None, metavar="NAME",
                   help="fast-forward main to the branch head (atomic)")
    p.add_argument("--keep", action="store_true",
                   help="keep the branch pointer after --publish")
    p.add_argument("--drop", default=None, metavar="NAME")
    p.add_argument("--list", action="store_true", dest="list_branches")
    p.add_argument("--tag", default=None, metavar="NAME",
                   help="create an immutable tag at --at (default: head) — "
                        "the Iceberg tag analog; readable wherever a "
                        "snapshot id is accepted")
    p.add_argument("--at", default=None, metavar="SNAPSHOT_ID",
                   help="snapshot for --tag (default: current head)")
    p.add_argument("--drop-tag", default=None, metavar="NAME")
    p = sub.add_parser(
        "consumer",
        help="durable CDC subscriber cursors (the Kafka consumer-group "
        "analog): register/advance/drop named positions; expire retains "
        "the history a lagging subscriber still needs",
    )
    p.add_argument("table_dir")
    p.add_argument("--register", default=None, metavar="NAME",
                   help="create a cursor at --at (default: current head)")
    p.add_argument("--at", default=None, metavar="REF",
                   help="snapshot/tag/branch for --register / --advance")
    p.add_argument("--advance", default=None, metavar="NAME",
                   help="move a cursor to --at (refuses rewinds without "
                        "--force)")
    p.add_argument("--force", action="store_true",
                   help="allow --advance to rewind (deliberate reprocess)")
    p.add_argument("--drop", default=None, metavar="NAME",
                   help="release the cursor's retention pin")
    p.add_argument("--list", action="store_true", dest="list_consumers")
    p = sub.add_parser(
        "matview",
        help="incremental materialized aggregate views: define once "
        "(--create), then refresh/follow/show from the view dir alone "
        "(the definition persists in the view's catalog)",
    )
    p.add_argument("view_dir")
    p.add_argument("--create", default=None, metavar="TABLE_DIR",
                   help="define a view over a snapshot table")
    p.add_argument("--group", default=None,
                   help="comma-separated group columns (with --create)")
    p.add_argument("--agg", action="append", default=[], dest="aggs",
                   help="aggregate as name=fn:col, fn in "
                        "count|sum|avg|min|max (count takes no col)")
    p.add_argument("--refresh", action="store_true",
                   help="advance the view to the source's current snapshot")
    p.add_argument("--follow", type=float, default=None, metavar="SECONDS",
                   help="poll the source and refresh on every commit")
    p.add_argument("--timeout", type=float, default=None,
                   help="stop --follow after this many seconds")
    p.add_argument("--show", action="store_true", help="print the view contents")
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--cores", type=int, default=4)
    p = sub.add_parser(
        "scd2",
        help="incrementally-maintained SCD Type-2 dimension view: define "
        "once (--create), then refresh/show from the view dir alone (the "
        "definition persists in the view's catalog)",
    )
    p.add_argument("view_dir")
    p.add_argument("--create", default=None, metavar="TABLE_DIR",
                   help="define an SCD-2 view over a snapshot table")
    p.add_argument("--attrs", default=None,
                   help="comma-separated tracked columns (default: every "
                        "payload column, evolving with the source)")
    p.add_argument("--refresh", action="store_true",
                   help="advance the view to the source's current snapshot")
    p.add_argument("--follow", type=float, default=None, metavar="SECONDS",
                   help="poll the source and refresh on every commit")
    p.add_argument("--timeout", type=float, default=None,
                   help="stop --follow after this many seconds")
    p.add_argument("--show", action="store_true",
                   help="print version intervals")
    p.add_argument("--current", action="store_true",
                   help="with --show: only the open version per key")
    p.add_argument("--key", default=None,
                   help="with --show: one key's history (bucket-pruned)")
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--cores", type=int, default=4)
    p = sub.add_parser(
        "vecidx",
        help="incrementally-maintained IVF vector index: define once "
        "(--create fits KMeans centroids over the table's live state), "
        "then refresh/search from the view dir alone (the definition -- "
        "centroids included -- persists in the view's catalog)",
    )
    p.add_argument("view_dir")
    p.add_argument("--create", default=None, metavar="TABLE_DIR",
                   help="define an IVF index view over a snapshot table")
    p.add_argument("--vec-col", default=None,
                   help="embedding column (default: embedding)")
    p.add_argument("--k", type=int, default=8,
                   help="with --create: number of centroids")
    p.add_argument("--fit-seed", type=int, default=42,
                   help="with --create: KMeans seed")
    p.add_argument("--refresh", action="store_true",
                   help="advance the index to the source's current snapshot")
    p.add_argument("--follow", type=float, default=None, metavar="SECONDS",
                   help="poll the source and refresh on every commit")
    p.add_argument("--timeout", type=float, default=None,
                   help="stop --follow after this many seconds")
    p.add_argument("--search", default=None, metavar="V0,V1,...",
                   help="ANN probe: comma-separated query vector")
    p.add_argument("--topk", type=int, default=10)
    p.add_argument("--nprobe", type=int, default=2)
    p.add_argument("--cores", type=int, default=4)
    p = sub.add_parser(
        "outbox",
        help="publish a table's typed change feed as wire-format "
        "JSON-lines files (debezium/maxwell/typed) a downstream system "
        "tails without the engine (define once with --create, then "
        "refresh/follow from the outbox dir alone)",
    )
    p.add_argument("outbox_dir")
    p.add_argument("--create", default=None, metavar="TABLE_DIR",
                   help="define an outbox over a source snapshot table")
    p.add_argument("--format", default="debezium",
                   choices=["debezium", "maxwell", "typed"])
    p.add_argument("--source-name", default=None,
                   help="envelope source/database name")
    p.add_argument("--refresh", action="store_true",
                   help="publish the unseen commit range")
    p.add_argument("--follow", type=float, default=None, metavar="SECONDS",
                   help="poll the source and publish on every commit")
    p.add_argument("--timeout", type=float, default=None,
                   help="stop --follow after this many seconds")
    p.add_argument("--rebase", action="store_true",
                   help="publish a full-state snapshot batch and retire "
                        "superseded history (the log-compaction analog; "
                        "new consumers bootstrap from the snapshot)")
    p.add_argument("--keep-batches", type=int, default=2,
                   help="with --rebase: batch ordinals of headroom kept "
                        "for in-flight consumers")
    p.add_argument("--fsck", action="store_true",
                   help="read-only integrity check (coverage contiguity "
                        "vs the cursor; crash-leftover warnings)")
    p.add_argument("--cores", type=int, default=4)
    p = sub.add_parser(
        "export",
        help="incrementally-maintained plain-parquet serving copy of a "
        "table's live state (define once with --create, then refresh/"
        "follow from the export dir alone; consumers glob current/ or "
        "read manifest-current.txt)",
    )
    p.add_argument("export_dir")
    p.add_argument("--create", default=None, metavar="TABLE_DIR",
                   help="define an export of a source snapshot table")
    p.add_argument("--refresh", action="store_true",
                   help="publish the source's current snapshot")
    p.add_argument("--follow", type=float, default=None, metavar="SECONDS",
                   help="poll the source and publish on every commit")
    p.add_argument("--timeout", type=float, default=None,
                   help="stop --follow after this many seconds")
    p.add_argument("--keep-versions", type=int, default=2,
                   help="published versions retained for in-flight readers")
    p.add_argument("--delta-log", action="store_true",
                   help="with --create: also write a Delta Lake "
                        "transaction log so external Delta readers "
                        "consume the export directly")
    p.add_argument("--codec", default=None,
                   help="parquet compression for published files (e.g. "
                        "zstd; default snappy)")
    p.add_argument("--files", action="store_true",
                   help="print the current published file set")
    p.add_argument("--fsck", action="store_true",
                   help="read-only integrity check of the export dir "
                        "(manifest/symlink/delta-log consistency)")
    p.add_argument("--cores", type=int, default=4)
    p = sub.add_parser(
        "mirror",
        help="table-to-table CDC replication: keep a replica current by "
        "shipping the source's commit ranges (define once with --create, "
        "then sync/follow from the target dir alone)",
    )
    p.add_argument("target_dir")
    p.add_argument("--create", default=None, metavar="SOURCE_DIR",
                   help="define a mirror of a source snapshot table")
    p.add_argument("--sync", action="store_true",
                   help="apply one commit range (snapshot copy on first sync)")
    p.add_argument("--follow", type=float, default=None, metavar="SECONDS",
                   help="poll the source and sync on every commit")
    p.add_argument("--timeout", type=float, default=None,
                   help="stop --follow after this many seconds")
    p.add_argument("--cores", type=int, default=4)
    p = sub.add_parser(
        "count", help="live row count (metadata-only on a compacted table)"
    )
    p.add_argument("table_dir")
    p.add_argument("--snapshot", default=None, help="count as of this snapshot")
    p.add_argument("--as-of", default=None, dest="as_of", metavar="TS",
                   help="count as of this wall-clock time (ISO-8601 or epoch; "
                        "resolved to the newest snapshot committed before it)")
    p.add_argument("--scan", action="store_true",
                   help="allow a bucket-pruned scan fallback for buckets "
                        "that are not metadata-answerable (starts Spark)")
    p.add_argument("--ts-range", action="store_true", dest="ts_range",
                   help="also report the live event-time [min, max] from "
                        "parquet footer statistics (same fallback rules)")
    p.add_argument("--cores", type=int, default=4)
    p = sub.add_parser(
        "profile",
        help="per-column profile of the table's live state (rows/nulls/"
             "distinct; min/max/avg-len for strings) -- the DESCRIBE/"
             "SUMMARIZE analog",
    )
    p.add_argument("table_dir")
    p.add_argument("--snapshot", default=None, help="profile as of this snapshot/tag/branch")
    p.add_argument("--columns", default=None,
                   help="comma-separated subset (default: every payload column)")
    p.add_argument("--approx", action="store_true",
                   help="HLL distinct counts (no k-way expand; ~2%% error)")
    p.add_argument("--cores", type=int, default=4)
    p = sub.add_parser(
        "changes", help="incremental scan: rows merged after a snapshot"
    )
    p.add_argument("table_dir")
    p.add_argument("from_snapshot")
    p.add_argument("--to", default=None)
    p.add_argument("--typed", action="store_true",
                   help="typed change feed: net insert/update/delete per key")
    p.add_argument("--format", default="rows",
                   choices=["rows", "debezium", "maxwell"],
                   dest="out_format",
                   help="with --typed: emit rows, Debezium envelopes "
                        "(before/after/op/ts_ms) or Maxwell envelopes "
                        "(type/data/old/ts) for downstream consumers")
    p.add_argument("--since", default=None, metavar="TS",
                   help="event-time window lower bound (ISO; footer-stats "
                        "file skipping)")
    p.add_argument("--until", default=None, metavar="TS",
                   help="event-time window upper bound (ISO)")
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--cores", type=int, default=4)
    p = sub.add_parser(
        "catalog",
        help="multi-table catalog: versioned name→snapshot pins giving "
        "reproducible training-run reads and atomic multi-table publish",
    )
    p.add_argument("catalog_dir")
    p.add_argument("--register", action="append", default=[],
                   metavar="NAME=TABLE_DIR[@REF]", dest="registers",
                   help="add a table (pinned at its head, or @REF)")
    p.add_argument("--unregister", action="append", default=[],
                   metavar="NAME", dest="unregisters")
    p.add_argument("--snapshot", action="store_true",
                   help="capture a new version: re-pin every registered "
                        "table at its current head")
    p.add_argument("--pin", action="append", default=[],
                   metavar="NAME[=REF]", dest="pins",
                   help="with --snapshot: pin NAME at REF instead of its "
                        "head (branch heads = atomic multi-table WAP "
                        "publish); alone: re-pin ONLY NAME (at REF or its "
                        "current head), carrying other pins forward")
    p.add_argument("--note", default=None, help="note on the new version")
    p.add_argument("--list", type=int, nargs="?", const=20, default=None,
                   dest="list_versions", metavar="N",
                   help="list the newest N retained versions")
    p.add_argument("--show", default=None, nargs="?", const="current",
                   metavar="VERSION", help="print one version's manifest")
    p.add_argument("--as-of", default=None, dest="as_of", metavar="TS",
                   help="resolve + show the version live at this time")
    p.add_argument("--expire", type=int, default=None, metavar="KEEP_LAST",
                   help="drop versions beyond the newest KEEP_LAST and "
                        "release their table tags")

    p = sub.add_parser(
        "convs",
        help="conversation-grain reads over a replayed transcript table: "
        "assembled transcripts (batch) or a ConversationView store "
        "(--view to read, --refresh to advance it from the change feed)",
    )
    p.add_argument("table_dir")
    p.add_argument("--view", default=None, metavar="VIEW_DIR",
                   help="ConversationView store dir (read the maintained "
                        "view instead of assembling on the fly)")
    p.add_argument("--refresh", action="store_true",
                   help="with --view: advance the view to the table's "
                        "current snapshot first")
    p.add_argument("--follow", type=float, default=None, metavar="SECONDS",
                   help="with --view: poll the table and refresh the view "
                        "on every commit (one metrics JSON line each)")
    p.add_argument("--timeout", type=float, default=None,
                   help="stop --follow after this many seconds")
    p.add_argument("--conv", default=None,
                   help="one conversation (bucket+file-pruned lookup)")
    p.add_argument("--sessions", type=int, default=None, metavar="GAP_SECONDS",
                   help="emit per-session rollups split on this ts gap")
    p.add_argument("--snapshot", default=None, help="read as of this snapshot")
    p.add_argument("--as-of", default=None, dest="as_of", metavar="TS",
                   help="read as of this wall-clock time (ISO-8601 or epoch; "
                        "resolves against the view store with --view, else "
                        "the table)")
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--cores", type=int, default=4)

    args = parser.parse_args(argv)
    from fetchez_spark import registry
    from fetchez_spark.transforms import get_transform, list_transforms, search_transforms

    if args.cmd == "sources":
        for s in registry.list_sources():
            print(f"{s.name:16s} [{s.category}] {s.desc}")
        return 0
    if args.cmd == "sinks":
        for s in registry.list_sinks():
            print(f"{s.name:16s} [{s.category}] {s.desc}")
        return 0
    if args.cmd == "transforms":
        for t in list_transforms(stage=args.stage):
            print(f"{t.name:16s} [{t.stage}/{t.category}] {t.desc}")
        return 0
    if args.cmd == "search":
        for s in registry.search(args.term):
            print(f"{s.name:16s} {s.desc}")
        for t in search_transforms(args.term):
            print(f"{t.name:16s} (transform) {t.desc}")
        return 0
    if args.cmd == "info":
        s = registry.info(args.name)
        if s:
            print(json.dumps(s.__dict__, default=str, indent=2))
            return 0
        try:
            get_transform(args.name)
        except TypeError:
            pass  # factory needed args -- it exists
        except KeyError:
            print(f"unknown: {args.name}", file=sys.stderr)
            return 1
        t = next(x for x in list_transforms() if x.name == args.name)
        print(json.dumps({k: v for k, v in t.__dict__.items() if k != "factory"}, indent=2))
        return 0
    if args.cmd == "run":
        from fetchez_spark.recipe import Recipe

        result = Recipe.from_file(args.recipe).run(dry_run=args.dry_run)
        print(json.dumps(result, default=str)[:2000])
        return 0
    if args.cmd == "ingest":
        cls = registry.get_source_class(args.source)
        if args.show_args:
            print(json.dumps(introspect_source_args(cls), default=str, indent=2))
            return 0
        src_args = _parse_kv(args.kv, cls)
        from fetchez_spark.session import get_spark
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
        from fetchez_spark.streaming.engine import replay_batches

        # sink args coerce through the SAME annotation-driven path as source
        # args (introspected from LocalSnapshotSink.__init__): bools parse as
        # bools (dedup_on_write=false != the truthy string 'false'), floats
        # as floats (late_tolerance_seconds=1.5)
        sink_args = _parse_kv(args.sink_arg, LocalSnapshotSink, check_required=False)
        sink_args.pop("table_dir", None)
        spark = get_spark(
            app_name=f"fetchez-ingest-{args.source}",
            master=f"local[{args.cores}]" if args.cores else None,
        )
        source = cls(**src_args)
        sink = LocalSnapshotSink(args.table, **sink_args)
        results = replay_batches(spark, source.batches(spark), sink)
        print(json.dumps({"batches": len(results), "table": args.table,
                          "snapshot": sink.current_snapshot_id}, default=str))
        return 0
    if args.cmd in ("snapshots", "index", "ingest-index"):
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        if not os.path.isfile(os.path.join(args.table_dir, "VERSION")):
            print(f"not a snapshot table: {args.table_dir}", file=sys.stderr)
            return 1
        sink = LocalSnapshotSink(args.table_dir)
        if args.cmd == "snapshots" and args.history is not None:
            limit = None if args.history < 0 else args.history
            for rec in sink.history(limit=limit):
                print(json.dumps(rec, default=str))
            return 0
        if args.cmd == "snapshots" and args.files is not None:
            for rec in sink.files(snapshot_id=args.files or None):
                print(json.dumps(rec, default=str))
            return 0
        if args.cmd == "ingest-index":
            field_map = dict(kv.partition("=")[::2] for kv in args.maps)
            res = sink.ingest_index(
                args.source_file, field_map=field_map or None, wipe=args.wipe
            )
            print(json.dumps(res))
            return 0
        eq = {
            k: _num(v) for k, _, v in (kv.partition("=") for kv in args.where)
        } or None
        ranges = {}
        for r in args.ranges:
            k, _, bounds = r.partition("=")
            lo, _, hi = bounds.partition(":")
            ranges[k] = (_num(lo), _num(hi))
        recs = (
            sink.search(eq=eq, ranges=ranges or None)
            if args.cmd == "snapshots"
            else sink.search_index(eq=eq, ranges=ranges or None)
        )
        for rec in recs:
            print(json.dumps(rec, default=str))
        return 0
    if args.cmd == "catalog":
        from fetchez_spark.catalog import TableCatalog

        cat = TableCatalog(args.catalog_dir)
        out = {}
        for spec in args.registers:
            name, _, rest = spec.partition("=")
            table_dir, _, ref = rest.partition("@")
            if not table_dir:
                print("--register wants NAME=TABLE_DIR[@REF]", file=sys.stderr)
                return 1
            m = cat.register(name, table_dir, ref or None, note=args.note)
            out["version"] = m["version"]
        for name in args.unregisters:
            out["version"] = cat.unregister(name, note=args.note)["version"]
        if args.snapshot:
            pins = {}
            for spec in args.pins:
                name, _, ref = spec.partition("=")
                if not ref:
                    print("--snapshot --pin wants NAME=REF", file=sys.stderr)
                    return 1
                pins[name] = ref
            m = cat.snapshot(note=args.note, pins=pins or None)
            out["version"] = m["version"]
            out["tables"] = {k: v["snapshot_id"] for k, v in m["tables"].items()}
        elif args.pins:
            # --pin without --snapshot: single-table re-pin(s), other pins
            # carried forward (the after-a-run bookkeeping step)
            for spec in args.pins:
                name, _, ref = spec.partition("=")
                m = cat.pin(name, ref or None, note=args.note)
                out["version"] = m["version"]
                out.setdefault("pinned", {})[name] = m["tables"][name][
                    "snapshot_id"
                ]
        if args.expire is not None:
            out["expired"] = cat.expire(args.expire)
        if args.as_of is not None:
            try:
                ts: float | str = float(args.as_of)
            except ValueError:
                ts = args.as_of
            out["as_of_version"] = cat.as_of(ts)
            out["manifest"] = cat.manifest(out["as_of_version"])
        if args.show is not None:
            out["manifest"] = cat.manifest(
                None if args.show == "current"
                else int(args.show) if args.show.isdigit() else args.show
            )
        if args.list_versions is not None or not out:
            out["versions"] = cat.versions(args.list_versions or 20)
        print(json.dumps(out, default=str))
        return 0
    if args.cmd == "clone":
        from fetchez_spark import api

        print(json.dumps(
            api.clone(args.table_dir, args.target_dir, ref=args.ref,
                      tag_name=args.tag_name),
            default=str,
        ))
        return 0
    if args.cmd == "import":
        from fetchez_spark import api
        from fetchez_spark.session import get_spark

        spark = get_spark(
            app_name="fetchez-import", master=f"local[{args.cores}]"
        )
        print(json.dumps(
            api.import_files(
                spark,
                args.table_dir,
                args.paths,
                batch_token=args.token,
                validate=not args.no_validate,
                incremental=args.incremental,
                collect_stats=args.stats,
            ),
            default=str,
        ))
        return 0
    if args.cmd == "fsck":
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        # never bootstrap (a typo'd path must not create a table) and
        # report a table too broken to open instead of crashing
        if not os.path.exists(os.path.join(args.table_dir, "VERSION")):
            report = {
                "ok": False,
                "errors": [
                    f"{args.table_dir}: no VERSION pointer "
                    "(not a table, or its head is lost)"
                ],
                "warnings": [], "checked": {},
            }
        else:
            try:
                report = LocalSnapshotSink(args.table_dir).fsck(deep=args.deep)
            except Exception as e:
                report = {
                    "ok": False,
                    "errors": [f"table does not open: {e}"],
                    "warnings": [], "checked": {},
                }
        print(json.dumps(report, default=str))
        return 0 if report["ok"] else 2
    if args.cmd == "branch":
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        sink = LocalSnapshotSink(args.table_dir)
        out = {}
        if args.create:
            out["created"] = {
                "branch": args.create,
                "head": sink.create_branch(args.create, args.from_snapshot),
            }
        if args.publish:
            out["publish"] = sink.publish(args.publish, drop=not args.keep)
        if args.drop:
            sink.drop_branch(args.drop)
            out["dropped"] = args.drop
        if args.tag:
            out["tagged"] = {"tag": args.tag, "snapshot_id": sink.create_tag(args.tag, args.at)}
        if args.drop_tag:
            sink.drop_tag(args.drop_tag)
            out["dropped_tag"] = args.drop_tag
        if args.list_branches or not out:
            out["branches"] = sink.branches()
            out["tags"] = sink.tags()
        print(json.dumps(out, default=str))
        return 0
    if args.cmd == "consumer":
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        sink = LocalSnapshotSink(args.table_dir)
        out = {}
        if args.register:
            out["registered"] = {
                "consumer": args.register,
                "snapshot": sink.register_consumer(args.register, args.at),
            }
        if args.advance:
            if not args.at:
                print("--advance wants --at REF", file=sys.stderr)
                return 1
            out["advanced"] = {
                "consumer": args.advance,
                "snapshot": sink.advance_consumer(
                    args.advance, args.at, force=args.force
                ),
            }
        if args.drop:
            sink.drop_consumer(args.drop)
            out["dropped"] = args.drop
        if args.list_consumers or not out:
            out["consumers"] = {
                name: sink.consumer_lag(name) for name in sink.consumers()
            }
        print(json.dumps(out, default=str))
        return 0
    if args.cmd == "maintain":
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        sink = LocalSnapshotSink(args.table_dir)
        out: dict = {}
        if args.set_properties:
            props = {}
            for spec in args.set_properties:
                name, _, raw = spec.partition("=")
                if raw in ("", "null", "none"):
                    props[name] = None
                else:
                    try:
                        props[name] = json.loads(raw)
                    except json.JSONDecodeError:
                        props[name] = raw
            out["properties"] = sink.set_properties(**props)
        for spec in args.add_expectations:
            name, _, rest = spec.partition(":")
            action, _, cond = rest.partition(":")
            if not cond:
                print("--add-expectation wants NAME:ACTION:SQL_CONDITION",
                      file=sys.stderr)
                return 1
            out["expectations"] = sink.add_expectation(name, cond, action)[
                "expectations"
            ]
        for name in args.drop_expectations:
            out["expectations"] = sink.drop_expectation(name)["expectations"]
        if args.properties:
            print(json.dumps(sink.properties(), default=str))
            return 0
        if args.report:
            print(json.dumps(sink.table_report(), default=str))
            return 0
        if args.auto:
            plan = sink.auto_maintain(dry_run=True)["plan"]
            spark = None
            if not args.dry_run and any(
                s["action"] in ("compact", "minor_compact", "purge_tombstones")
                for s in plan
            ):
                from fetchez_spark.session import get_spark

                spark = get_spark(
                    app_name="fetchez-maintain", master=f"local[{args.cores}]"
                )
            print(json.dumps(
                sink.auto_maintain(
                    spark=spark, keep_last=args.expire, dry_run=args.dry_run
                ),
                default=str,
            ))
            return 0
        if args.rollback:
            sink.rollback(args.rollback)
            out["rolled_back_to"] = args.rollback
        if args.rename_column:
            old, _, new = args.rename_column.partition("=")
            if not new:
                print("--rename-column wants OLD=NEW", file=sys.stderr)
                return 1
            out["rename_column"] = sink.rename_column(old, new)
        if args.drop_column:
            out["drop_column"] = sink.drop_column(args.drop_column)
        needs_spark = (
            args.compact
            or args.minor
            or args.rebucket is not None
            or args.delete_where
            or args.update_where
            or args.purge_tombstones
            or args.purge_expired
            or args.requeue_quarantine
        )
        if needs_spark:
            from fetchez_spark.session import get_spark

            spark = get_spark(
                app_name="fetchez-maintain", master=f"local[{args.cores}]"
            )
            if args.rebucket is not None:
                out["rebucket"] = sink.rebucket(
                    spark, args.rebucket, sort=args.sort or None
                )
            if args.delete_where:
                out["delete_where"] = sink.delete_where(spark, args.delete_where)
            if args.update_where:
                if not args.set_assignments:
                    print("--update-where needs at least one --set COL=EXPR",
                          file=sys.stderr)
                    return 1
                assigns = dict(
                    kv.partition("=")[::2] for kv in args.set_assignments
                )
                out["update_where"] = sink.update_where(
                    spark, args.update_where, assigns
                )
            if args.minor:
                out["minor_compact"] = sink.compact(
                    spark, minor=True, bloom=args.bloom
                )
            if args.compact:
                out["compact"] = sink.compact(
                    spark,
                    min_bucket_bytes=args.min_bucket_bytes,
                    target_file_bytes=args.target_file_bytes,
                    sort=args.sort or None,
                    cluster_by=(
                        args.cluster_by.split(",") if args.cluster_by else None
                    ),
                    bloom=args.bloom,
                )
            if args.purge_tombstones:
                out["purge_tombstones"] = sink.purge_tombstones(
                    spark, before=args.purge_tombstones
                )
            if args.purge_expired:
                out["purge_expired"] = sink.purge_expired(
                    spark, before=args.purge_expired
                )
            if args.requeue_quarantine:
                out["requeue_quarantine"] = sink.requeue_quarantine(spark)
        if args.expire is not None:
            out["expired_data_dirs"] = sink.expire_snapshots(keep_last=args.expire)
        if args.vacuum:
            out["vacuumed_orphans"] = sink.vacuum_orphans()
        if not out:
            print("nothing to do: pass --compact/--minor/--rebucket/--vacuum/"
                  "--expire/--rollback",
                  file=sys.stderr)
            return 1
        print(json.dumps(out, default=str))
        return 0
    if args.cmd == "matview":
        from fetchez_spark.operators.matview import MaterializedAggregate
        from fetchez_spark.session import get_spark
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        spark = get_spark(app_name="fetchez-matview", master=f"local[{args.cores}]")
        if args.create:
            if not args.group or not args.aggs:
                print("--create needs --group and at least one --agg", file=sys.stderr)
                return 1
            aggs: dict = {}
            for spec in args.aggs:
                name, _, fc = spec.partition("=")
                fn, _, col = fc.partition(":")
                aggs[name] = (fn, col or None)
            mv = MaterializedAggregate(
                LocalSnapshotSink(args.create),
                args.view_dir,
                group_by=args.group.split(","),
                aggs=aggs,
            )
        else:
            mv = MaterializedAggregate.load(args.view_dir)
        out: dict = {"view": args.view_dir, "upstream": mv.source.table_dir}
        if args.follow is not None:
            refreshed = [
                m
                for m in mv.follow(
                    spark, poll_seconds=args.follow, timeout_seconds=args.timeout or 60
                )
            ]
            out["refreshes"] = refreshed
        elif args.refresh or args.create:
            out["refresh"] = mv.refresh(spark)
        if args.show:
            df = mv.read_view(spark)
            out["rows"] = df.count()
            for row in df.limit(args.limit).collect():
                print(json.dumps(row.asDict(), default=str))
        out["applied"] = mv.last_applied()
        print(json.dumps(out, default=str))
        return 0
    if args.cmd == "scd2":
        from fetchez_spark.operators.scd_view import SCD2View
        from fetchez_spark.session import get_spark
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        spark = get_spark(app_name="fetchez-scd2", master=f"local[{args.cores}]")
        if args.create:
            view = SCD2View(
                args.view_dir,
                LocalSnapshotSink(args.create),
                attrs=args.attrs.split(",") if args.attrs else None,
            )
        else:
            view = SCD2View.load(args.view_dir)
        out = {"view": args.view_dir, "upstream": view.source.table_dir}
        if args.follow is not None:
            out["refreshes"] = list(
                view.follow(
                    spark, poll_seconds=args.follow, timeout_seconds=args.timeout or 60
                )
            )
        elif args.refresh or args.create:
            out["refresh"] = view.refresh(spark)
        if args.show:
            if args.key is not None:
                df = view.lookup(spark, args.key)
            elif args.current:
                df = view.current(spark)
            else:
                df = view.history(spark)
            out["rows"] = df.count()
            for row in df.limit(args.limit).collect():
                print(json.dumps(row.asDict(), default=str))
        out["applied"] = view.last_applied()
        print(json.dumps(out, default=str))
        return 0
    if args.cmd == "vecidx":
        from fetchez_spark.functions.similarity import IVFIndex
        from fetchez_spark.operators.vector_index import VectorIndexView
        from fetchez_spark.session import get_spark
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        spark = get_spark(app_name="fetchez-vecidx", master=f"local[{args.cores}]")
        if args.create:
            src = LocalSnapshotSink(args.create)
            vc = args.vec_col or "embedding"
            idx = IVFIndex(k=args.k, seed=args.fit_seed, vec_col=vc).fit(
                src.read(spark)
            )
            view = VectorIndexView(args.view_dir, src, index=idx, vec_col=vc)
        else:
            view = VectorIndexView.load(args.view_dir)
        out = {
            "view": args.view_dir,
            "upstream": view.source.table_dir,
            "k": len(view.index.centroids),
        }
        if args.follow is not None:
            out["refreshes"] = list(
                view.follow(
                    spark, poll_seconds=args.follow, timeout_seconds=args.timeout or 60
                )
            )
        elif args.refresh or args.create:
            out["refresh"] = view.refresh(spark)
        if args.search is not None:
            qv = [float(x) for x in args.search.split(",")]
            hits = view.search(spark, qv, k=args.topk, nprobe=args.nprobe)
            out["hits"] = [row.asDict() for row in hits.collect()]
        out["applied"] = view.last_applied()
        print(json.dumps(out, default=str))
        return 0
    if args.cmd == "outbox":
        from fetchez_spark.operators.outbox import ChangeOutbox
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        spark = None
        if args.create or args.refresh or args.follow is not None or args.rebase:
            # --fsck alone is pure filesystem work: no JVM needed
            from fetchez_spark.session import get_spark

            spark = get_spark(
                app_name="fetchez-outbox", master=f"local[{args.cores}]"
            )
        if args.create:
            box = ChangeOutbox(
                args.outbox_dir, LocalSnapshotSink(args.create),
                format=args.format, source_name=args.source_name,
            )
        else:
            box = ChangeOutbox.load(args.outbox_dir)
            if args.format != "debezium" and args.format != box.format:
                print(f"outbox publishes format {box.format!r}; --format "
                      "only applies with --create", file=sys.stderr)
                return 1
        out = {"outbox": args.outbox_dir, "upstream": box.source.table_dir,
               "format": box.format}
        if args.follow is not None:
            out["refreshes"] = list(
                box.follow(
                    spark, poll_seconds=args.follow, timeout_seconds=args.timeout or 60
                )
            )
        elif args.refresh or args.create:
            out["refresh"] = box.refresh(spark)
        if args.rebase:
            out["rebase"] = box.rebase(spark, keep_batches=args.keep_batches)
        if args.fsck:
            out["fsck"] = box.fsck()
        out["applied"] = box.last_applied()
        print(json.dumps(out, default=str))
        return int(bool(args.fsck and out["fsck"]["errors"]))
    if args.cmd == "export":
        from fetchez_spark.operators.export_view import ParquetExportView
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        spark = None
        if args.create or args.refresh or args.follow is not None:
            # --fsck / --files alone are pure filesystem work: no JVM
            from fetchez_spark.session import get_spark

            spark = get_spark(
                app_name="fetchez-export", master=f"local[{args.cores}]"
            )
        if args.create:
            view = ParquetExportView(
                args.export_dir, LocalSnapshotSink(args.create),
                keep_versions=args.keep_versions, delta_log=args.delta_log,
                parquet_codec=args.codec,
            )
        else:
            if args.delta_log or args.codec:
                print("--delta-log/--codec only apply with --create "
                      "(re-opens adopt the persisted definition)",
                      file=sys.stderr)
                return 1
            view = ParquetExportView.load(
                args.export_dir, keep_versions=args.keep_versions
            )
        out = {"export": args.export_dir, "upstream": view.source.table_dir}
        if args.follow is not None:
            out["refreshes"] = list(
                view.follow(
                    spark, poll_seconds=args.follow, timeout_seconds=args.timeout or 60
                )
            )
        elif args.refresh or args.create:
            out["refresh"] = view.refresh(spark)
        if args.files:
            out["files"] = view.current_files()
        if args.fsck:
            out["fsck"] = view.fsck()
        out["applied"] = view.last_applied()
        print(json.dumps(out, default=str))
        return int(bool(args.fsck and out["fsck"]["errors"]))
    if args.cmd == "mirror":
        from fetchez_spark.operators.mirror import TableMirror
        from fetchez_spark.session import get_spark
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        spark = get_spark(app_name="fetchez-mirror", master=f"local[{args.cores}]")
        if args.create:
            mirror = TableMirror(LocalSnapshotSink(args.create), args.target_dir)
        else:
            mirror = TableMirror.load(args.target_dir)
        out = {"target": args.target_dir, "source": mirror.source.table_dir}
        if args.follow is not None:
            out["syncs"] = list(
                mirror.follow(
                    spark, poll_seconds=args.follow, timeout_seconds=args.timeout or 60
                )
            )
        elif args.sync or args.create:
            out["sync"] = mirror.sync_once(spark)
        out["applied"] = mirror.last_applied()
        print(json.dumps(out, default=str))
        return 0
    if args.cmd == "count":
        from fetchez_spark import api

        if args.as_of is not None:
            if args.snapshot is not None:
                print("--snapshot and --as-of are mutually exclusive",
                      file=sys.stderr)
                return 1
            args.snapshot = api.snapshot_as_of(args.table_dir, _num(args.as_of))
        try:
            out = {"rows": api.count_rows(args.table_dir, snapshot_id=args.snapshot)}
            if args.ts_range:
                lo, hi = api.ts_range(args.table_dir, snapshot_id=args.snapshot)
                out["ts_range"] = [lo, hi]
            print(json.dumps({**out, "metadata_only": True}, default=str))
            return 0
        except ValueError:
            if not args.scan:
                raise
        from fetchez_spark.session import get_spark

        spark = get_spark(app_name="fetchez-count", master=f"local[{args.cores}]")
        out = {"rows": api.count_rows(args.table_dir, spark, snapshot_id=args.snapshot)}
        if args.ts_range:
            lo, hi = api.ts_range(args.table_dir, spark, snapshot_id=args.snapshot)
            out["ts_range"] = [lo, hi]
        print(json.dumps({**out, "metadata_only": False}, default=str))
        return 0
    if args.cmd == "profile":
        from fetchez_spark.session import get_spark
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink
        from fetchez_spark.transforms import profile_columns

        spark = get_spark(app_name="fetchez-profile", master=f"local[{args.cores}]")
        sink = LocalSnapshotSink(args.table_dir)
        df = sink.read(spark, snapshot_id=args.snapshot)
        cols = (
            [c.strip() for c in args.columns.split(",") if c.strip()]
            if args.columns
            else None
        )
        for r in profile_columns(df, cols, approx=args.approx).collect():
            print(json.dumps(r.asDict(), default=str))
        return 0
    if args.cmd == "changes":
        from fetchez_spark import api
        from fetchez_spark.session import get_spark

        spark = get_spark(
            app_name="fetchez-changes", master=f"local[{args.cores}]"
        )
        if args.typed and (args.since or args.until):
            print("--since/--until apply to the raw feed only (not --typed)",
                  file=sys.stderr)
            return 1
        if args.out_format != "rows" and not args.typed:
            print(f"--format {args.out_format} needs the typed feed (--typed)",
                  file=sys.stderr)
            return 1
        df = (
            api.change_feed(spark, args.table_dir, args.from_snapshot, args.to,
                            include_pre_image=args.out_format != "rows")
            if args.typed
            else api.changes(
                spark,
                args.table_dir,
                args.from_snapshot,
                args.to,
                ts_min=args.since,
                ts_max=args.until,
            )
        )
        if args.out_format == "debezium":
            from fetchez_spark.functions.cdc_formats import to_debezium

            df = to_debezium(df, source_name=args.table_dir)
        elif args.out_format == "maxwell":
            from fetchez_spark.functions.cdc_formats import to_maxwell

            df = to_maxwell(df, table=args.table_dir)
        n = df.count()
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(recursive=True), default=str))
        print(json.dumps({"total_changed_rows": n}))
        return 0
    if args.cmd == "convs":
        from fetchez_spark import api
        from fetchez_spark.session import get_spark

        def _key_typed(sink, value):
            # --conv arrives as an argv string; the bucket hash (and the
            # filter) must see the leading key's REAL type or a
            # numeric-keyed lookup silently prunes to the wrong bucket
            from pyspark.sql import types as T

            schema = T.StructType.fromJson(sink.manifest()["schema"])
            dt = next(
                (f.dataType for f in schema.fields if f.name == sink.key[0]), None
            )
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                return int(value)
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                return float(value)
            if isinstance(dt, T.DecimalType):
                from decimal import Decimal

                return Decimal(value)
            return value

        if args.sessions is not None and args.view:
            print("--sessions reads the turn-grain table; it cannot be "
                  "combined with --view (conversation grain)", file=sys.stderr)
            return 1
        if args.as_of is not None:
            import os as _os

            from fetchez_spark import api as _api

            if args.snapshot is not None:
                print("--snapshot and --as-of are mutually exclusive",
                      file=sys.stderr)
                return 1
            # with --view the snapshot is AS-OF the VIEW store's history
            target = args.view if args.view else args.table_dir
            if not _os.path.isfile(_os.path.join(target, "VERSION")):
                print(f"not a snapshot table: {target}", file=sys.stderr)
                return 1
            args.snapshot = _api.snapshot_as_of(target, _num(args.as_of))
        spark = get_spark(app_name="fetchez-convs", master=f"local[{args.cores}]")
        if args.sessions is not None:
            df = api.sessions(
                spark, args.table_dir, gap_seconds=args.sessions,
                snapshot_id=args.snapshot,
            )
            if args.conv is not None:
                from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

                conv = _key_typed(LocalSnapshotSink(args.table_dir), args.conv)
                df = df.filter(df[df.columns[0]] == conv)
        elif args.view:
            from fetchez_spark.operators.conv_view import ConversationView
            from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

            try:
                view = ConversationView.load(args.view)
            except KeyError:
                # fresh store dir: no persisted definition yet
                view = ConversationView(args.view, LocalSnapshotSink(args.table_dir))
            else:
                import os as _os

                if _os.path.realpath(view.source.table_dir) != _os.path.realpath(
                    args.table_dir
                ):
                    print(
                        f"view {args.view} was built over "
                        f"{view.source.table_dir}, not {args.table_dir}",
                        file=sys.stderr,
                    )
                    return 1
            if args.follow is not None:
                for m in view.follow(
                    spark, poll_seconds=args.follow,
                    timeout_seconds=args.timeout,
                ):
                    print(json.dumps(
                        {k: m.get(k) for k in ("from", "to", "snapshot_id")},
                        default=str,
                    ), flush=True)
                return 0
            if args.refresh:
                r = view.refresh(spark)
                print(json.dumps(
                    {k: r.get(k) for k in ("from", "to", "skipped")}, default=str
                ), file=sys.stderr)
            if args.conv is not None and args.snapshot is None:
                df = view.lookup(spark, _key_typed(view.store, args.conv))
            else:
                # --snapshot with --view is AS-OF the VIEW store's history
                df = view.read(spark, snapshot_id=args.snapshot)
                if args.conv is not None:
                    df = df.filter(
                        df[df.columns[0]] == _key_typed(view.store, args.conv)
                    )
        else:
            df = api.conversations(
                spark, args.table_dir, sep="\x1f", snapshot_id=args.snapshot
            )
            if args.conv is not None:
                from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

                conv = _key_typed(LocalSnapshotSink(args.table_dir), args.conv)
                df = df.filter(df[df.columns[0]] == conv)
        n = df.count()
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
        print(json.dumps({"total_conversations": n}))
        return 0
    parser.print_help()
    return 0


if __name__ == "__main__":
    sys.exit(main())
