"""Filesystem operations (driver-side "physical plan" steps).

Reference parity: util/DFSWrapper.scala + util/HadoopLoadHelper.scala —
timestamped version dirs, backup/restore, partition move-specs, ordered
listings. Implemented against the JVM Hadoop FileSystem via
``spark._jvm`` so the same code addresses file://, hdfs:// and s3a://
(SURVEY.md §2.13).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import SparkSession


@dataclass
class DFS:
    spark: SparkSession

    def _jclass(self, name: str) -> Any:
        """The JVM class ``name`` by its fully qualified name: one py4j
        lookup, where ``jvm.org.apache...`` walks the package chain and
        pays a failed class lookup per segment."""
        return getattr(self.spark._jvm, name)

    def _jpath(self, path: str) -> Any:
        return self._jclass("org.apache.hadoop.fs.Path")(path)

    def _fs_path(self, path: str) -> tuple[Any, Any]:
        """(FileSystem, Path) of ``path``, building the Path once."""
        p = self._jpath(path)
        return p.getFileSystem(self.spark._jsc.hadoopConfiguration()), p

    # ------------------------------------------------------------ basics
    def exists(self, path: str) -> bool:
        fs, p = self._fs_path(path)
        return fs.exists(p)

    def mkdirs(self, path: str) -> None:
        fs, p = self._fs_path(path)
        fs.mkdirs(p)

    def delete(self, path: str, recursive: bool = True) -> bool:
        fs, p = self._fs_path(path)
        return bool(fs.exists(p) and fs.delete(p, recursive))

    def rename(self, src: str, dst: str) -> bool:
        """Atomic on HDFS/posix; copy-based on S3 — callers must treat it
        as a commit step, not a lock (HadoopLoadHelper.scala:212-239)."""
        fs, src_p = self._fs_path(src)
        dst_p = self._jpath(dst)
        parent = dst_p.getParent()
        if parent is not None and not fs.exists(parent):
            fs.mkdirs(parent)
        return bool(fs.rename(src_p, dst_p))

    def list_dirs(self, path: str, reverse: bool = True) -> list[str]:
        """Ordered subdirectory names (HadoopLoadHelper.scala:99-117);
        skips hidden and EMR '$folder$' placeholder entries."""
        fs, p = self._fs_path(path)
        if not fs.exists(p):
            return []
        out = []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isDirectory() and not name.startswith((".", "_")) and "$folder$" not in name:
                out.append(name)
        return sorted(out, reverse=reverse)

    def list_entries(self, path: str) -> list[str]:
        """ALL direct child names — files and directories, hidden or
        not. The raw listing cleanupDirectoryLeftovers works from
        (HadoopLoadHelper.scala:50-58)."""
        fs, p = self._fs_path(path)
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    def _committed_iter(self, path: str):
        """Yield (full_path_str, rel_path, length) for every COMMITTED
        data file under ``path`` (recursive). EVERY path component
        below the base must be visible: the recursive iterator
        descends into ``_temporary``/``.staging`` dirs left by aborted
        or concurrent writes, whose part files carry uncommitted
        (possibly truncated) footers — consumers must never see those.
        Relative paths come from URI normalization on BOTH sides
        (``toUri().getPath()``), never string arithmetic on the
        caller's spelling of ``path`` — 'file:///x' vs 'file:/x' vs
        'hdfs://nn:8020/x' all normalize identically. The SINGLE
        implementation of the visibility rule: ``first_file`` and
        ``committed_files`` are thin wrappers, so what 'committed'
        means can never diverge between schema discovery and the
        state/compaction paths."""
        fs, p = self._fs_path(path)
        if not fs.exists(p):
            return
        base = p.toUri().getPath().rstrip("/")
        it = fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            f = st.getPath()
            rel = f.toUri().getPath()[len(base):].lstrip("/")
            if any(
                seg.startswith(("_", ".")) for seg in rel.split("/")
            ):
                continue
            yield f.toString(), rel, int(st.getLen())

    def first_file(self, path: str) -> str | None:
        """First data file under ``path`` (recursive), stopping the
        remote iterator early — avoids the full-listing storm when only
        one footer is needed (e.g. on-disk schema discovery)."""
        return next(
            (full for full, _, _ in self._committed_iter(path)), None
        )

    def list_files(self, path: str, recursive: bool = True) -> list[str]:
        fs, p = self._fs_path(path)
        if not fs.exists(p):
            return []
        it = fs.listFiles(p, recursive)
        out = []
        while it.hasNext():
            out.append(it.next().getPath().toString())
        return out

    def committed_files(self, path: str) -> list[tuple]:
        """(relative_path, byte_length) of every COMMITTED data file
        under ``path`` — one listing RPC regardless of directory
        count; visibility rule and normalization per
        :meth:`_committed_iter`. Lengths let callers plan sizes from
        committed bytes only (on-disk totals via getContentSummary
        would count crashed-write litter)."""
        return [
            (rel, size) for _, rel, size in self._committed_iter(path)
        ]

    def read_bytes(self, path: str) -> bytes:
        fs, p = self._fs_path(path)
        stream = fs.open(p)
        try:
            ioutils = self._jclass("org.apache.commons.io.IOUtils")
            return bytes(ioutils.toByteArray(stream))
        finally:
            stream.close()

    def write_bytes(self, path: str, content: bytes) -> None:
        fs, p = self._fs_path(path)
        try:
            # LocalFileSystem is checksummed by default and would write
            # a hidden .crc sibling next to every file — noise in landing
            # dirs whose contents other loaders enumerate.
            fs.setWriteChecksum(False)
        except Exception:
            pass
        stream = fs.create(p, True)
        try:
            stream.write(bytearray(content))
        finally:
            stream.close()

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    def write_text(self, path: str, content: str) -> None:
        self.write_bytes(path, content.encode("utf-8"))


def next_version_dir(base: str, ts: float | None = None) -> str:
    """Timestamped version directory name (HadoopLoadHelper.scala:14-27)."""
    stamp = time.strftime("%Y%m%d_%H%M%S", time.gmtime(ts))
    return f"{base.rstrip('/')}/{stamp}"


def version_as_of(
    dfs: DFS, base: str, as_of: float | str | None = None
) -> str:
    """Time-travel over the engine's timestamped version directories:
    the path of the newest version at-or-before ``as_of`` (a unix
    timestamp, a ``YYYYmmdd_HHMMSS`` stamp string, or None for
    latest). The read-side complement of ``next_version_dir`` +
    retention: every materialization under this layout is already a
    snapshot log, so "what did the table look like before last
    night's load" is a directory pick, not a storage-format feature.
    Raises FileNotFoundError when no version is old enough (or none
    exist). Dirs whose names aren't version stamps are ignored — the
    same tolerance the retention sweep applies.
    """
    import re

    if as_of is None:
        stamp = "99999999_999999"
    elif isinstance(as_of, str):
        if not re.fullmatch(r"\d{8}_\d{6}", as_of):
            raise ValueError(f"not a version stamp: {as_of!r}")
        stamp = as_of
    else:
        stamp = time.strftime("%Y%m%d_%H%M%S", time.gmtime(as_of))
    versions = sorted(
        d for d in dfs.list_dirs(base)
        if re.fullmatch(r"\d{8}_\d{6}", d.rstrip("/").rsplit("/", 1)[-1])
    )
    eligible = [
        d for d in versions
        if d.rstrip("/").rsplit("/", 1)[-1] <= stamp
    ]
    if not eligible:
        raise FileNotFoundError(
            f"no version of {base} at or before {stamp}"
        )
    # list_dirs yields bare names; return a readable path
    return f"{base.rstrip('/')}/{eligible[-1].rstrip('/').rsplit('/', 1)[-1]}"
