"""Count the files under table, export or outbox directories by kind.

Kinds: ``parquet`` data files, ``.crc`` checksum sidecars, ``_SUCCESS``
markers (with their ``._SUCCESS.crc``), ``CLAIM.json`` snapshot claims,
snapshot ``manifest`` files (``manifests/snap-*.json``), file-list
blobs (``manifests/lists/list-*.json``), and ``other`` (VERSION, locks,
catalog blobs, logs, ...).  Only the given directories are read.

    python tools/file_census.py <dir> [<dir> ...]

Prints one block per directory (files and bytes per kind), plus a total
block when more than one directory is given.
"""

from __future__ import annotations

import os
import sys

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
    if not dirs:
        print(__doc__.strip(), file=sys.stderr)
        return 2
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
