"""Incrementally-maintained PLAIN-PARQUET export of a table's live state.

The engine's snapshot tables are self-describing but engine-shaped: a
consumer without ``fetchez_spark`` (DuckDB, pandas, Trino, a training
job that just globs parquet) cannot fold MoR deltas or honor tombstones.
``ParquetExportView`` keeps a *serving copy* of the live last-writer-wins
state as ordinary parquet files that any engine reads directly -- the
public pattern is Delta's ``symlink_format_manifest`` / Iceberg's
register-external-table: publish the current file set for engines that
speak only parquet.  (Reference analog: fetchez materializes every fetch
as plain local files a downstream tool consumes as-is,
/root/reference/src/fetchez/core.py fetch-and-write loop -- here the
"files on disk" contract is kept while the upstream becomes a CDC table.)

Layout (all under ``export_dir``)::

    _export/CURRENT          # pointer: "v00000003" (tmp+rename, atomic)
    _export/v00000003.json   # version manifest: upstream cursor, schema,
                             #   per-bucket relative file lists
    _export/DEF.json         # persisted definition (source dir) -> load()
    data/v00000003/_fz_bucket=<b>/part-*.parquet
    current -> data/v00000003          # symlink, atomically swapped
    manifest-current.txt     # absolute paths of the current file set
                             #   (the symlink-manifest analog, tmp+rename)

Consumers either follow the ``current`` symlink (glob
``current/*/*.parquet``; the hive partition column ``_fz_bucket`` is the
table's bucket id -- useful for consumer-side pruning, droppable
otherwise) or read exactly the files named in ``manifest-current.txt``.
Both views swap atomically: a reader that resolved the old version keeps
reading the old files, which are retained for ``keep_versions``
refreshes.

Incrementality (the point at 100 TB): each refresh derives the TOUCHED
bucket set of the unseen commit range from the source's manifest chain
(O(metadata); flat-delta ranges fall back to one O(batch) job over the
added files' keys), rewrites ONLY those buckets' live state into the new
version dir, and HARDLINKS every untouched bucket's files from the
previous version -- O(changed buckets) data IO + O(files) metadata per
refresh, never a full re-export.  Bucket-grain rewrite amplification is
inherent to the plain-parquet contract (a consumer cannot fold deltas);
it is the same trade Delta's manifest export makes at partition grain.
Full re-exports happen only when the increment is impossible or wrong by
construction: first publish, payload-schema change (version dirs stay
schema-homogeneous so consumers never need schema merging), bucket-count
change (rebucket), or the range having expired out from under a lagging
export (same contract as any CDC consumer -- and the view pins source
retention at its cursor like the rest of the view family, so that only
happens when the pin was released).
"""

from __future__ import annotations

import fcntl
import json
import logging
import os
import shutil
import tempfile
import time
from types import SimpleNamespace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fetchez_spark.operators._incview import (
    ROOT_SNAPSHOT,
    IncrementalView,
    atomic_write as _atomic_write,
)
from fetchez_spark.session import NO_CRC_SIDECARS, VERIFY_PAGE_CRC

_LOG = logging.getLogger("fetchez_spark.export_view")

_BUCKET_COL = "_fz_bucket"
_META = "_export"
_DEF = "DEF.json"


class ParquetExportView(IncrementalView):
    """See module docstring."""

    PIN_PREFIX = "export"

    def __init__(
        self,
        export_dir: str,
        source,
        keep_versions: int = 2,
        delta_log: bool = False,
        parquet_codec: str | None = None,
    ) -> None:
        import uuid

        self.export_dir = os.path.abspath(export_dir)
        self.source = source
        self.keep_versions = max(1, int(keep_versions))
        # None = the session's parquet codec (zstd under get_spark,
        # snappy in a plain Spark session); zstd roughly halves the
        # published bytes of snappy at a few % CPU -- the right trade
        # when the export ships over a network (same finding as the
        # shuffle-codec ladder in BENCH/BASELINE.md)
        self.parquet_codec = parquet_codec
        # RetentionPinMixin derives the consumer name from store.table_dir
        self.store = SimpleNamespace(table_dir=self.export_dir)
        os.makedirs(os.path.join(self.export_dir, _META), exist_ok=True)
        os.makedirs(os.path.join(self.export_dir, "data"), exist_ok=True)
        def_path = os.path.join(self.export_dir, _META, _DEF)
        if os.path.exists(def_path):
            with open(def_path) as f:
                d = json.load(f)
            if os.path.abspath(d["source_dir"]) != os.path.abspath(
                source.table_dir
            ):
                raise ValueError(
                    f"{export_dir} exports {d['source_dir']!r}; refusing the "
                    f"conflicting source {source.table_dir!r}"
                )
            if bool(d.get("delta_log", False)) != bool(delta_log) and delta_log:
                # turning the log ON mid-life would need a backfill of
                # every prior version; require a fresh export dir instead
                raise ValueError(
                    f"{export_dir} was created without a Delta log; "
                    "create a fresh export dir with delta_log=True"
                )
            self.delta_log = bool(d.get("delta_log", False))
            self._delta_id = d.get("delta_id")
            # the codec is part of the persisted definition: a cron
            # re-open must keep publishing what --create chose, and an
            # explicit conflicting value must not be silently ignored
            recorded_codec = d.get("parquet_codec")
            if parquet_codec is not None and parquet_codec != recorded_codec:
                raise ValueError(
                    f"{export_dir} publishes parquet_codec="
                    f"{recorded_codec!r}; refusing the conflicting "
                    f"{parquet_codec!r} (recreate the export to change it)"
                )
            self.parquet_codec = recorded_codec
        else:
            self.delta_log = bool(delta_log)
            self._delta_id = str(uuid.uuid4()) if delta_log else None
            _atomic_write(
                def_path,
                json.dumps(
                    {
                        "source_dir": os.path.abspath(source.table_dir),
                        "delta_log": self.delta_log,
                        "delta_id": self._delta_id,
                        "parquet_codec": parquet_codec,
                    }
                ),
            )
        if self.delta_log:
            os.makedirs(os.path.join(self.export_dir, "_delta_log"), exist_ok=True)

    # -------------------------------------------------------------- loading
    @classmethod
    def load(cls, export_dir: str, keep_versions: int = 2) -> "ParquetExportView":
        """Reconstruct the view from its export dir alone (the persisted
        definition names the source table)."""
        from fetchez_spark.sinks.local_snapshot import LocalSnapshotSink

        def_path = os.path.join(export_dir, _META, _DEF)
        if not os.path.exists(def_path):
            raise KeyError(f"{export_dir} has no persisted export definition")
        with open(def_path) as f:
            d = json.load(f)
        return cls(export_dir, LocalSnapshotSink(d["source_dir"]), keep_versions)

    # -------------------------------------------------------------- cursor
    def _current(self) -> dict | None:
        ptr = os.path.join(self.export_dir, _META, "CURRENT")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            v = f.read().strip()
        with open(os.path.join(self.export_dir, _META, f"{v}.json")) as f:
            return json.load(f)

    def last_applied(self) -> str:
        cur = self._current()
        return cur["upstream"] if cur else ROOT_SNAPSHOT

    # ------------------------------------------------------------- helpers
    def _payload_schema(self, m: dict) -> list[list[str]]:
        """Ordered (logical name, type json) pairs of the snapshot's
        payload columns -- the export's schema fingerprint (a rename or
        add/drop/widen changes it -> full re-export so every version dir
        stays schema-homogeneous)."""
        from fetchez_spark.sinks.local_snapshot import _is_internal_name

        lmap = m.get("logical_names") or {}
        return [
            [lmap.get(f["name"], f["name"]), json.dumps(f["type"], sort_keys=True)]
            for f in m["schema"]["fields"]
            if not _is_internal_name(f["name"])
        ]

    def _touched_buckets(
        self, spark: SparkSession, frm: str, to: str, nb: int
    ) -> list[int] | None:
        """Buckets the range touched, or None when only a full export is
        sound.  Metadata-only on clustered-delta ranges; flat-delta /
        CoW-sidecar ranges cost one column-pruned job over the added
        files (O(batch), never the table)."""
        from pyspark.sql import types as T

        src = self.source
        m_frm, m_to = src.manifest(frm), src.manifest(to)
        if int(m_frm["num_buckets"]) != int(m_to["num_buckets"]):
            return None  # rebucket inside the range: layout changed
        added, buckets, _ = src._added_change_files(frm, to)
        if buckets is not None:
            return sorted(buckets)
        schema = T.StructType.fromJson(m_to["schema"])
        rows = src._read_files(
            spark, sorted(set(added)), schema, imported=src._imported_set(m_to)
        )
        # the sink's OWN bucket expression (raw files speak physical
        # names): one source of truth for the bucket assignment
        return sorted(
            r[0]
            for r in rows.select(src._bucket_expr(nb).alias("b"))
            .distinct()
            .collect()
        )

    def _live_state(self, spark: SparkSession, to: str, buckets=None) -> DataFrame:
        df = self.source.read(spark, snapshot_id=to, buckets=buckets)
        if _BUCKET_COL in df.columns:
            raise ValueError(
                f"source payload already has a column named {_BUCKET_COL!r}"
            )
        m = self.source.manifest(to)
        lmap = m.get("logical_names") or {}
        lkey0 = lmap.get(self.source.key[0], self.source.key[0])
        # LocalSnapshotSink._bucket_expr in LOGICAL name space (read()
        # returns logical names; the hash is over the same values either
        # way) -- must stay in lockstep with the sink's expression
        return df.withColumn(
            _BUCKET_COL,
            F.pmod(F.hash(F.col(lkey0)), F.lit(int(m["num_buckets"]))).cast("int"),
        )

    def _bucket_files(self, data_dir: str) -> dict[str, list[str]]:
        """{bucket: [relative file paths]} for a written version dir."""
        out: dict[str, list[str]] = {}
        if not os.path.isdir(data_dir):
            return out
        for d in sorted(os.listdir(data_dir)):
            if not d.startswith(f"{_BUCKET_COL}="):
                continue
            b = d.split("=", 1)[1]
            files = sorted(
                f for f in os.listdir(os.path.join(data_dir, d))
                if f.endswith(".parquet")
            )
            if files:
                out[b] = [os.path.join(d, f) for f in files]
        return out

    def _publish(self, vname: str, manifest: dict) -> None:
        """Version json + CURRENT pointer + `current` symlink +
        symlink-manifest text file, each swap atomic (tmp+rename); a
        reader that resolved the old target keeps reading retained old
        files."""
        meta = os.path.join(self.export_dir, _META)
        _atomic_write(
            os.path.join(meta, f"{vname}.json"), json.dumps(manifest, indent=1)
        )
        _atomic_write(os.path.join(meta, "CURRENT"), vname + "\n")
        link = os.path.join(self.export_dir, "current")
        tmp = f"{link}.tmp.{os.getpid()}"
        if os.path.lexists(tmp):
            os.remove(tmp)
        os.symlink(os.path.join("data", vname), tmp)
        os.rename(tmp, link)
        data_dir = os.path.join(self.export_dir, "data", vname)
        lines = [
            os.path.join(data_dir, rel)
            for files in manifest["buckets"].values()
            for rel in files
        ]
        _atomic_write(
            os.path.join(self.export_dir, "manifest-current.txt"),
            "".join(line + "\n" for line in sorted(lines)),
        )

    def _prune(self, keep_from: int) -> None:
        """Drop version manifests + data dirs older than the retention
        window.  Hardlinked files shared with newer versions stay alive
        (link count), so pruning is always safe for current readers."""
        meta = os.path.join(self.export_dir, _META)
        for f in os.listdir(meta):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            n = int(f[1:-5])
            if n <= keep_from - self.keep_versions:
                os.remove(os.path.join(meta, f))
                shutil.rmtree(
                    os.path.join(self.export_dir, "data", f"v{n:08d}"),
                    ignore_errors=True,
                )

    # ----------------------------------------------------------- delta log
    def _delta_schema_string(self, schema_pairs: list) -> str:
        """Delta's ``schemaString`` is the Spark StructType JSON -- payload
        columns plus the partition column (partition columns are part of
        the Delta schema even though the parquet files omit them)."""
        fields = [
            {"name": name, "type": json.loads(tj), "nullable": True, "metadata": {}}
            for name, tj in schema_pairs
        ]
        fields.append(
            {"name": _BUCKET_COL, "type": "integer", "nullable": True, "metadata": {}}
        )
        return json.dumps({"type": "struct", "fields": fields})

    def _delta_commit(
        self, n: int, manifest: dict, prev: dict | None, touched
    ) -> int:
        """Write Delta commit ``n - 1`` into ``_delta_log/`` (the public
        Delta transaction-log protocol, pure JSON): version 0 carries
        protocol + metaData, every version replaces the full add set
        (paths are version-dir-scoped), with ``dataChange=false`` on
        hardlink-carried buckets so a streaming Delta reader reprocesses
        only genuinely rewritten data.  Retention note: ``keep_versions``
        pruning removes OLD version dirs, so Delta time travel reaches
        back exactly that far (the post-VACUUM contract); the latest
        version is always fully readable.  Single-writer (the export
        refresh lock): a crash between this write and the publish is
        retried by overwriting the same version file."""
        ver = n - 1
        now_ms = int(time.time() * 1000)
        actions: list[dict] = []
        if ver == 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        if prev is None or prev.get("schema") != manifest["schema"]:
            actions.append(
                {
                    "metaData": {
                        "id": self._delta_id,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": self._delta_schema_string(
                            manifest["schema"]
                        ),
                        "partitionColumns": [_BUCKET_COL],
                        "configuration": {},
                        "createdTime": now_ms,
                    }
                }
            )
        twr = {str(b) for b in touched} if touched is not None else None
        if prev is not None:
            for b, files in prev["buckets"].items():
                dc = twr is None or b in twr
                for rel in files:
                    actions.append(
                        {
                            "remove": {
                                "path": f"data/{prev['vname']}/{rel}",
                                "deletionTimestamp": now_ms,
                                "dataChange": dc,
                                "partitionValues": {_BUCKET_COL: b},
                            }
                        }
                    )
        for b, files in manifest["buckets"].items():
            dc = twr is None or b in twr
            for rel in files:
                fp = os.path.join(self.export_dir, "data", manifest["vname"], rel)
                actions.append(
                    {
                        "add": {
                            "path": f"data/{manifest['vname']}/{rel}",
                            "partitionValues": {_BUCKET_COL: b},
                            "size": os.path.getsize(fp),
                            "modificationTime": now_ms,
                            "dataChange": dc,
                        }
                    }
                )
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "WRITE",
                    "operationParameters": {"mode": manifest["mode"]},
                    "engineInfo": "fetchez_spark ParquetExportView",
                }
            }
        )
        _atomic_write(
            os.path.join(self.export_dir, "_delta_log", f"{ver:020d}.json"),
            "".join(json.dumps(a) + "\n" for a in actions),
        )
        return ver

    # ------------------------------------------------------------- refresh
    def _refresh(self, spark: SparkSession) -> dict[str, Any]:
        """Advance the export to the source's current snapshot.  Single
        exporter per dir (serialized by a lock file); crash leftovers of
        an unpublished version are cleaned on the next attempt."""
        lock_path = os.path.join(self.export_dir, _META, "LOCK")
        # O_RDWR without O_TRUNC: a refresh must not rewrite the lock file
        fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            return self._refresh_locked(spark)
        finally:
            os.close(fd)

    def _refresh_locked(self, spark: SparkSession) -> dict[str, Any]:
        src = self.source
        cur = self._current()
        frm = cur["upstream"] if cur else ROOT_SNAPSHOT
        to = src.current_snapshot_id
        if frm == to:
            return {"from": frm, "to": to, "skipped": True}
        m_to = src.manifest(to)
        nb = int(m_to["num_buckets"])
        schema_now = self._payload_schema(m_to)

        touched: list[int] | None = None
        if cur is not None and cur.get("schema") == schema_now:
            try:
                touched = self._touched_buckets(spark, frm, to, nb)
            except (FileNotFoundError, ValueError) as e:
                # HistoryExpiredError / not-an-ancestor ONLY -- a Spark
                # failure in the flat-delta bucket job must propagate, not
                # silently degrade every refresh to a full re-export
                _LOG.warning(
                    "export %s: increment %s -> %s unavailable (%s); "
                    "falling back to a full re-export",
                    self.export_dir, frm, to, e,
                )
                touched = None

        n = (cur["version"] + 1) if cur else 1
        vname = f"v{n:08d}"
        data_dir = os.path.join(self.export_dir, "data", vname)
        if os.path.exists(data_dir):  # unpublished crash leftover
            shutil.rmtree(data_dir)

        mode = "incremental" if touched is not None else "full"
        if touched is not None and not touched:
            # metadata-only range (e.g. pure compaction): nothing to write.
            # Advance the cursor by rewriting the CURRENT version manifest
            # in place (atomic) -- data dir, symlink, and file manifest all
            # still describe the same unchanged file set.
            meta = os.path.join(self.export_dir, _META)
            _atomic_write(
                os.path.join(meta, f"{cur['vname']}.json"),
                json.dumps({**cur, "upstream": to}, indent=1),
            )
            return {"from": frm, "to": to, "mode": "noop", "buckets_written": 0}

        state = self._live_state(spark, to, buckets=touched)
        parts = min(
            nb if touched is None else len(touched),
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        )
        writer = (
            state.repartition(max(1, parts), F.col(_BUCKET_COL))
            .write.partitionBy(_BUCKET_COL)
            .mode("error")
            # no _SUCCESS marker: consumers follow the `current` symlink
            # or manifest-current.txt, and nothing reads the marker
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            # no .crc sidecar beside each bucket file: the page CRCs
            # inside the file guard its bytes
            .options(**NO_CRC_SIDECARS)
        )
        if self.parquet_codec:
            writer = writer.option("compression", self.parquet_codec)
        writer.parquet(data_dir)
        buckets_out = self._bucket_files(data_dir)

        if touched is not None:
            twr = {str(b) for b in touched}
            prev_dir = os.path.join(self.export_dir, "data", cur["vname"])
            for b, files in cur["buckets"].items():
                if b in twr:
                    continue  # rewritten (or now empty) above
                dst_dir = os.path.join(data_dir, f"{_BUCKET_COL}={b}")
                os.makedirs(dst_dir, exist_ok=True)
                kept = []
                for rel in files:
                    src_f = os.path.join(prev_dir, rel)
                    dst_rel = os.path.join(
                        f"{_BUCKET_COL}={b}", os.path.basename(rel)
                    )
                    dst_f = os.path.join(data_dir, dst_rel)
                    try:
                        os.link(src_f, dst_f)  # O(1) metadata, shared bytes
                    except OSError:
                        shutil.copy2(src_f, dst_f)  # cross-device fallback
                    kept.append(dst_rel)
                buckets_out[b] = kept

        manifest = {
            "version": n,
            "vname": vname,
            "upstream": to,
            "num_buckets": nb,
            "schema": schema_now,
            "buckets": buckets_out,
            "mode": mode,
            "published_at": time.time(),
        }
        out = {
            "from": frm,
            "to": to,
            "mode": mode,
            "version": n,
            "buckets_written": nb if touched is None else len(touched),
        }
        if self.delta_log:
            out["delta_version"] = self._delta_commit(n, manifest, cur, touched)
        self._publish(vname, manifest)
        self._prune(n)
        return out

    # ------------------------------------------------------------- reading
    def read(
        self,
        spark: SparkSession,
        drop_bucket: bool = True,
        version: int | None = None,
    ) -> DataFrame:
        """Read the export back the way an external consumer would: plain
        ``spark.read.parquet`` over the ``current`` symlink -- or, with
        ``version``, over a RETAINED older published version (time travel
        across the ``keep_versions`` window; a pruned version is a loud
        error).  An export of an EMPTY live state has no files to infer
        from, so the schema is rebuilt from the version manifest instead
        of crashing."""
        if version is not None:
            vpath = os.path.join(self.export_dir, _META, f"v{version:08d}.json")
            if not os.path.exists(vpath):
                raise ValueError(
                    f"export version {version} is not retained (pruned past "
                    f"keep_versions={self.keep_versions}, or never published)"
                )
            with open(vpath) as f:
                cur = json.load(f)
        else:
            cur = self._current()
            if cur is None:
                # reading the nonexistent 'current' symlink would surface
                # a raw AnalysisException; name the actual problem
                raise ValueError(
                    f"export {self.export_dir!r} has never been published; "
                    "call refresh() first"
                )
        if cur is not None and not cur["buckets"]:
            from pyspark.sql import types as T

            fields = [
                T.StructField(name, T._parse_datatype_json_string(tj))
                for name, tj in cur["schema"]
            ]
            if not drop_bucket:
                fields.append(T.StructField(_BUCKET_COL, T.IntegerType()))
            return spark.createDataFrame([], T.StructType(fields))
        target = (
            os.path.join(self.export_dir, "data", cur["vname"])
            if version is not None
            else os.path.join(self.export_dir, "current")
        )
        df = spark.read.options(**VERIFY_PAGE_CRC).parquet(target)
        return df.drop(_BUCKET_COL) if drop_bucket else df

    def fsck(self) -> dict[str, list[str]]:
        """Read-only integrity check of the export dir (the export's
        analog of the sink's ``fsck``): the CURRENT pointer resolves to a
        parsable version manifest, every manifest-listed file exists
        nonzero, the ``current`` symlink targets the current version's
        data dir, ``manifest-current.txt`` names exactly the manifest's
        file set, and (when the Delta log is enabled) an independent
        replay of ``_delta_log`` yields the same live file set with
        matching sizes.  Crash debris (tmp dirs, unreferenced version
        dirs) reports as warnings naming the reclaiming operation."""
        errors: list[str] = []
        warnings: list[str] = []
        cur = self._current()
        if cur is None:
            return {"errors": [], "warnings": ["never published (no CURRENT)"]}
        data_dir = os.path.join(self.export_dir, "data", cur["vname"])
        expect = set()
        for b, files in cur["buckets"].items():
            for rel in files:
                full = os.path.join(data_dir, rel)
                expect.add(full)
                if not os.path.exists(full):
                    errors.append(f"missing data file: {full}")
                elif os.path.getsize(full) == 0:
                    errors.append(f"zero-byte data file: {full}")
        link = os.path.join(self.export_dir, "current")
        try:
            link_ok = os.path.islink(link) and os.path.samefile(
                os.path.realpath(link), data_dir
            )
        except OSError:  # dangling symlink / missing version dir
            link_ok = False
        if cur["buckets"] and not link_ok:
            errors.append(
                f"`current` symlink does not resolve to {data_dir}"
            )
        manifest_set = set(self.current_files())
        if cur["buckets"] and manifest_set != expect:
            errors.append(
                "manifest-current.txt disagrees with the version manifest "
                f"({len(manifest_set ^ expect)} differing paths)"
            )
        if self.delta_log:
            live: dict[str, dict] = {}
            logdir = os.path.join(self.export_dir, "_delta_log")
            for fname in sorted(os.listdir(logdir)):
                if not fname.endswith(".json"):
                    continue
                with open(os.path.join(logdir, fname)) as fh:
                    for line in fh:
                        a = json.loads(line)
                        if "add" in a:
                            live[a["add"]["path"]] = a["add"]
                        elif "remove" in a:
                            live.pop(a["remove"]["path"], None)
            delta_set = {
                os.path.join(self.export_dir, p) for p in live
            }
            if delta_set != expect:
                errors.append(
                    "_delta_log replay disagrees with the version manifest "
                    f"({len(delta_set ^ expect)} differing paths)"
                )
            for p, add in live.items():
                full = os.path.join(self.export_dir, p)
                if os.path.exists(full) and os.path.getsize(full) != add["size"]:
                    errors.append(f"delta add size mismatch: {p}")
        # debris: unreferenced version dirs / leftover tmp files
        kept = {
            f[:-5]
            for f in os.listdir(os.path.join(self.export_dir, _META))
            if f.startswith("v") and f.endswith(".json")
        }
        for d in os.listdir(os.path.join(self.export_dir, "data")):
            if d not in kept:
                warnings.append(
                    f"unreferenced version dir data/{d} (crash leftover; "
                    "the next refresh reclaims it)"
                )
        return {"errors": errors, "warnings": warnings}

    def current_files(self) -> list[str]:
        """The published file set (absolute paths) -- exactly the
        ``manifest-current.txt`` contents."""
        p = os.path.join(self.export_dir, "manifest-current.txt")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [line.strip() for line in f if line.strip()]
