"""Count the files under table, export or outbox directories by kind.

Kinds: ``parquet`` data files, ``.crc`` checksum sidecars, ``_SUCCESS``
markers (with their ``._SUCCESS.crc``), ``CLAIM.json`` snapshot claims,
snapshot ``manifest`` files (``manifests/snap-*.json``), file-list
blobs (``manifests/lists/list-*.json``), and ``other`` (VERSION, locks,
catalog blobs, logs, ...).  Only the given directories are read.

    python tools/file_census.py <dir> [<dir> ...]
    python tools/file_census.py --columns <dir> [<dir> ...]

Prints one block per directory (files and bytes per kind), plus a total
block when more than one directory is given.  ``--columns`` instead
prints, per directory, each parquet column's compressed bytes, its
column-chunk count, and how many of those chunks are dictionary-encoded
(carry a dictionary page).  It reads parquet footers only.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

KINDS = ("parquet", "crc", "_SUCCESS", "CLAIM.json", "manifest", "list blob", "other")


def kind_of(path: str) -> str:
    name = os.path.basename(path)
    parent = os.path.basename(os.path.dirname(path))
    if name in ("_SUCCESS", "._SUCCESS.crc"):
        return "_SUCCESS"
    if name.endswith(".crc"):
        return "crc"
    if name.endswith(".parquet"):
        return "parquet"
    if name == "CLAIM.json":
        return "CLAIM.json"
    if parent == "manifests" and name.startswith("snap-") and name.endswith(".json"):
        return "manifest"
    if parent == "lists" and name.startswith("list-") and name.endswith(".json"):
        return "list blob"
    return "other"


def census(root: str) -> dict[str, dict[str, int]]:
    """{kind: {"files": n, "bytes": b}} for every file under ``root``."""
    out = {k: {"files": 0, "bytes": 0} for k in KINDS}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            try:
                size = os.path.getsize(path)
            except OSError:  # removed while walking
                continue
            row = out[kind_of(path)]
            row["files"] += 1
            row["bytes"] += size
    return out


def column_census(root: str) -> dict[str, dict[str, int]]:
    """{column: {"bytes", "chunks", "dict_chunks"}} over the footers of
    every parquet file under ``root``; ``bytes`` is the compressed size
    of the column's chunks, dictionary pages included."""
    out: dict[str, dict[str, int]] = {}
    for dirpath, _, names in os.walk(root):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            try:
                meta = pq.read_metadata(os.path.join(dirpath, name))
            except OSError:  # removed while walking
                continue
            for g in range(meta.num_row_groups):
                group = meta.row_group(g)
                for c in range(group.num_columns):
                    chunk = group.column(c)
                    row = out.setdefault(
                        chunk.path_in_schema, {"bytes": 0, "chunks": 0, "dict_chunks": 0}
                    )
                    row["bytes"] += chunk.total_compressed_size
                    row["chunks"] += 1
                    row["dict_chunks"] += int(chunk.has_dictionary_page)
    return out


def _print_columns(title: str, c: dict) -> None:
    print(title)
    print(f"  {'column':<16}{'bytes':>14}{'chunks':>8}{'dict':>8}")
    for col, row in c.items():
        print(f"  {col:<16}{row['bytes']:>14}{row['chunks']:>8}{row['dict_chunks']:>8}")
    print(f"  {'all':<16}{sum(r['bytes'] for r in c.values()):>14}")


def _add(total: dict, part: dict) -> None:
    for k, row in part.items():
        total[k]["files"] += row["files"]
        total[k]["bytes"] += row["bytes"]


def _print_block(title: str, c: dict) -> None:
    print(title)
    print(f"  {'kind':<12}{'files':>8}{'bytes':>14}")
    for k in KINDS:
        print(f"  {k:<12}{c[k]['files']:>8}{c[k]['bytes']:>14}")
    files = sum(r["files"] for r in c.values())
    size = sum(r["bytes"] for r in c.values())
    print(f"  {'all':<12}{files:>8}{size:>14}")


def main(dirs: list[str]) -> int:
    columns = dirs[:1] == ["--columns"]
    if columns:
        dirs = dirs[1:]
    if not dirs:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    if columns:
        for d in dirs:
            _print_columns(d, column_census(d))
        return 0
    per_dir = {d: census(d) for d in dirs}
    total = {k: {"files": 0, "bytes": 0} for k in KINDS}
    for c in per_dir.values():
        _add(total, c)
    for d, c in per_dir.items():
        _print_block(d, c)
    if len(dirs) > 1:
        _print_block("total", total)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
