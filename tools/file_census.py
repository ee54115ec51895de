"""Count the files under table, export or outbox directories by kind.

Kinds: ``parquet`` data files, ``.crc`` checksum sidecars, ``_SUCCESS``
markers (with their ``._SUCCESS.crc``), ``CLAIM.json`` snapshot claims,
snapshot ``manifest`` files (``manifests/snap-*.json``), file-list
blobs (``manifests/lists/list-*.json``), and ``other`` (VERSION, locks,
catalog blobs, logs, ...).  Only the given directories are read.

    python tools/file_census.py <dir> [<dir> ...]
    python tools/file_census.py --columns <dir> [<dir> ...]
    python tools/file_census.py --runs COL[,COL...] <dir> [<dir> ...]

Prints one block per directory (files and bytes per kind), plus a total
block when more than one directory is given.  ``--columns`` instead
prints, per directory, each parquet column's compressed bytes, its
column-chunk count, and how many of those chunks are dictionary-encoded
(carry a dictionary page).  It reads parquet footers only.  ``--runs``
prints, for each parquet file, its row count and the number of sorted
runs of its rows in the order of the given columns (ascending, nulls
first, as Spark sorts): 1 means the file is fully ordered, 0 that it
is empty.  It reads only those columns.
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


def sorted_runs(path: str, cols: list[str]) -> tuple[int, int]:
    """(rows, sorted runs) of the parquet file ``path`` in the order of
    ``cols``: a new run starts at every row that sorts before its
    predecessor.  Nulls sort first and ties continue a run."""
    table = pq.read_table(path, columns=cols)
    rows = zip(*(table.column(c).to_pylist() for c in cols))
    runs, prev = 0, None
    for row in rows:
        cur = tuple((v is not None, v) for v in row)
        if prev is None or cur < prev:
            runs += 1
        prev = cur
    return table.num_rows, runs


def _print_runs(root: str, cols: list[str]) -> None:
    print(root)
    print(f"  {'file':<60}{'rows':>10}{'runs':>8}")
    for dirpath, _, names in sorted(os.walk(root)):
        for name in sorted(names):
            if name.endswith(".parquet"):
                path = os.path.join(dirpath, name)
                rows, runs = sorted_runs(path, cols)
                print(f"  {os.path.relpath(path, root):<60}{rows:>10}{runs:>8}")


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
    runs = None
    if dirs[:1] == ["--runs"]:
        runs, dirs = dirs[1:2] and dirs[1].split(","), dirs[2:]
    if not dirs:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    if runs:
        for d in dirs:
            _print_runs(d, runs)
        return 0
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
