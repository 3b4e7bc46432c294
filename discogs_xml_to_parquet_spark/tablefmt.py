"""The on-disk table format of every update lane (MERGE, streaming
MERGE sink, snapshot read, deletion-vector compaction), in one place.

- A VERSION is a directory `vN/` of partition dirs, one level
  (`o_month=*`) or two (`o_year=*/o_bucket=*`). A partition it did not
  rewrite is a symlink to the previous version's RESOLVED dir -- the
  manifest entry of Delta/Iceberg: a version costs O(rewritten) bytes,
  and a shared pointer proves byte-equality.
- `_current` names the live version, flipped by write-temp + rename:
  the one commit point. A crash before it leaves an orphan `vN/` and
  an unchanged table; the next commit rebuilds the orphan. Version
  sidecars (the streaming sink's `_applied.json`) are written before
  the flip, so data and log commit together.
- Unversioned tables swap partitions in place (`swap`).

Callers pass a `build(tmp)` callable, as with `staging.staged`; the
temp dir is this module's and is removed whatever raises. Lives
OUTSIDE the queries package, like staging.py: importing it folds no
query module into the driver window.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from contextlib import contextmanager
from pathlib import Path
from typing import Callable, Iterator

MONTHS = "o_month=*"   # the one-level layout


def partitions(root: str | Path, parts: str = MONTHS) -> list[str]:
    """Partition dirs under `root` matching the `parts` glob, as sorted
    paths relative to `root` (symlinked partitions included)."""
    root = Path(root)
    return sorted(str(p.relative_to(root)) for p in root.glob(parts)
                  if p.is_dir())


def current(table: str | Path) -> str:
    """The live version's name, as `_current` records it."""
    return (Path(table) / "_current").read_text()


def _flip(table: Path, version: str) -> None:
    tmp = table / "_current.tmp"
    tmp.write_text(version)
    os.replace(tmp, table / "_current")   # THE commit point


def create(table: str | Path, base: str, parts: str = MONTHS,
           sidecars: dict[str, str] | None = None) -> None:
    """v0: a manifest of pointers to every partition of the existing
    table at `base` (never copied, never modified), then `_current` ->
    v0."""
    table = Path(table)
    v0 = table / "v0"
    v0.mkdir(parents=True)
    for p in partitions(base, parts):
        (v0 / p).parent.mkdir(parents=True, exist_ok=True)
        (v0 / p).symlink_to(Path(base) / p)
    for name, text in (sidecars or {}).items():
        (v0 / name).write_text(text)
    _flip(table, "v0")


@contextmanager
def _temp_write(build: Callable[[str], None]) -> Iterator[Path]:
    tmp = tempfile.mkdtemp(prefix="spark_graft_tablefmt_")
    try:
        build(tmp)
        yield Path(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def commit(table: str | Path, build: Callable[[str], None],
           parts: str = MONTHS,
           check: Callable[[list[str]], None] | None = None,
           sidecars: dict[str, str] | None = None) -> str:
    """Publish the next version: the partitions `build(tmp)` wrote (it
    may write none), pointers for every other partition of the current
    version, and `sidecars`; then flip `_current`. `check(rewritten)`
    may raise to abort before anything is published. Returns the new
    version's name."""
    table = Path(table)
    prev = current(table)
    name = f"v{int(prev[1:]) + 1}"
    with _temp_write(build) as tmp:
        rewritten = partitions(tmp, parts)
        if check is not None:
            check(rewritten)
        vdir = table / name
        if vdir.exists():        # orphan of a crashed attempt: rebuild
            shutil.rmtree(vdir)
        vdir.mkdir()
        for p in rewritten:
            (vdir / p).parent.mkdir(parents=True, exist_ok=True)
            shutil.move(str(tmp / p), str(vdir / p))
        for p in partitions(table / prev, parts):
            if p not in rewritten:
                (vdir / p).parent.mkdir(parents=True, exist_ok=True)
                (vdir / p).symlink_to((table / prev / p).resolve())
        for sidecar, text in (sidecars or {}).items():
            (vdir / sidecar).write_text(text)
    _flip(table, name)
    return name


def swap(root: str | Path, build: Callable[[str], None],
         affected: list[str] | None = None,
         check: Callable[[list[str]], None] | None = None,
         sidecar_root: str | None = None) -> list[str]:
    """In-place copy-on-write: each `affected` partition (default: the
    ones `build(tmp)` wrote, once `check` passes) is replaced from the
    write, or dropped if the write left it empty, and its dir under
    `sidecar_root` deleted. Returns the affected partitions."""
    root = Path(root)
    with _temp_write(build) as tmp:
        if affected is None:
            affected = partitions(tmp)
        if check is not None:
            check(affected)
        for p in affected:  # the "manifest flip": driver-side renames only
            if (root / p).exists():
                shutil.rmtree(root / p)
            if (tmp / p).exists():
                shutil.move(str(tmp / p), str(root / p))
            if sidecar_root is not None:
                shutil.rmtree(Path(sidecar_root) / p, ignore_errors=True)
    return affected


# --- file inventories: the layout audits' evidence -------------------

def inventory(root: str) -> dict[str, tuple[int, str]]:
    """Visible data files under `root` -> (size, md5). Hidden
    sidecars (.crc, _SUCCESS) excluded: the contract is about data
    files, the things a table format's manifest points at."""
    out: dict[str, tuple[int, str]] = {}
    for p in sorted(Path(root).rglob("*")):
        if not p.is_file() or p.name.startswith(("_", ".")):
            continue
        out[str(p.relative_to(root))] = (
            p.stat().st_size, hashlib.md5(p.read_bytes()).hexdigest())
    return out


def stat_inventory(root: str) -> dict[str, tuple[int, int]]:
    """`inventory` by stat, (size, mtime_ns): proves 'no file was
    rewritten, resized, or removed' without reading a byte -- for
    in-row facts of O(delta) lanes; pytest keeps the md5 check."""
    return {
        str(p.relative_to(root)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in sorted(Path(root).rglob("*"))
        if p.is_file() and not p.name.startswith(("_", "."))
    }


def link_or_copy(src: str, dst: str) -> None:
    """`copy_function` for cloning a staged base: hardlink, or byte-copy
    across filesystems (EXDEV). Safe because no lane modifies a file in
    place -- rewritten partitions are replaced with new files."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)
