"""Index-store filesystem abstraction.

The segment store's dataflow (operators/segments.py, streaming/ingest.py)
is Spark, except the driver executors of apply_upserts and of the
compactions (fold, tier merge, second-level merge), whose parquet files
go through ``write_parquet``; beyond that only MANIFEST and DIRECTORY
bookkeeping touches a filesystem directly. On the sandbox that is the driver-local POSIX tree,
but on a real cluster the store lives on HDFS/S3 — so every such
operation goes through this small interface instead of bare ``os``/
``shutil`` calls:

* ``LocalFS`` — os/shutil for plain paths (and file:// URIs when no
  SparkSession is at hand).
* ``HadoopFS`` — the JVM ``org.apache.hadoop.fs.FileSystem`` via py4j;
  resolves any scheme Hadoop knows (hdfs://, s3a://, file://, ...). This
  is the same FileSystem Spark's own writers use, so manifests and data
  always land on the same storage system.

The module also centralizes the two commit primitives the resumability
story depends on:

* ``write_json_atomic`` — manifest commit = write tmp + rename (rename is
  atomic on POSIX and HDFS; on S3 it is copy+delete, still
  last-writer-wins for a single driver).
* ``swap_dir``/``restore_swap`` — crash-safe directory swap: the old live
  dir is renamed ASIDE (.bak) before the new one is renamed in, so there
  is no window where a committed manifest points at a missing directory
  (the old rmtree-then-rename ordering had exactly that window); readers
  call ``restore_swap`` to heal an interrupted swap.
"""

from __future__ import annotations

import json
import os
import posixpath
import shutil
from typing import Protocol
from urllib.parse import urlparse


class IndexFS(Protocol):
    def exists(self, path: str) -> bool: ...
    def makedirs(self, path: str) -> None: ...
    def rmtree(self, path: str) -> None: ...
    def rename(self, src: str, dst: str) -> None: ...
    def listdir(self, path: str) -> list[str]: ...
    def isdir(self, path: str) -> bool: ...
    def read_bytes(self, path: str) -> bytes: ...
    def write_bytes(self, path: str, data: bytes) -> None: ...


def _local(path: str) -> str:
    """file:// URI → local path; plain paths pass through."""
    if path.startswith("file:"):
        return urlparse(path).path
    return path


class LocalFS:
    """POSIX driver-local store (the sandbox default)."""

    def exists(self, path: str) -> bool:
        return os.path.exists(_local(path))

    def makedirs(self, path: str) -> None:
        os.makedirs(_local(path), exist_ok=True)

    def rmtree(self, path: str) -> None:
        p = _local(path)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)

    def rename(self, src: str, dst: str) -> None:
        os.replace(_local(src), _local(dst))

    def listdir(self, path: str) -> list[str]:
        return sorted(os.listdir(_local(path)))

    def isdir(self, path: str) -> bool:
        return os.path.isdir(_local(path))

    def read_bytes(self, path: str) -> bytes:
        with open(_local(path), "rb") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        with open(_local(path), "wb") as f:
            f.write(data)


class HadoopFS:
    """Hadoop FileSystem through the Spark JVM — hdfs://, s3a://, file://.
    One instance per (session, scheme+authority)."""

    def __init__(self, spark, base_uri: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._gateway = spark.sparkContext._gateway
        conf = spark._jsc.hadoopConfiguration()
        self._fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create(base_uri), conf
        )
        self._Path = jvm.org.apache.hadoop.fs.Path
        # FileContext gives rename(OVERWRITE) — FileSystem.rename returns
        # FALSE when the destination exists on HDFS/S3A (POSIX overwrites),
        # which would break every manifest UPDATE commit. Not every Hadoop
        # filesystem implements AbstractFileSystem, so fall back lazily.
        try:
            self._fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                jvm.java.net.URI.create(base_uri), conf
            )
            self._Rename = jvm.org.apache.hadoop.fs.Options.Rename
        except Exception:
            self._fc = None
            self._Rename = None

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def makedirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def rmtree(self, path: str) -> None:
        p = self._Path(path)
        if self._fs.exists(p):
            self._fs.delete(p, True)

    def rename(self, src: str, dst: str) -> None:
        """Rename with OVERWRITE semantics (the ``os.replace`` analog —
        manifest UPDATE commits re-point an existing index.json). Uses
        FileContext.rename(..., Options.Rename.OVERWRITE) where available;
        otherwise delete-then-rename (non-atomic: a crash between the two
        leaves dst missing with the complete payload still in src/.tmp —
        recovery is re-running the commit, never data loss)."""
        if self._fc is not None:
            opts = self._gateway.new_array(self._Rename, 1)
            opts[0] = self._Rename.OVERWRITE
            self._fc.rename(self._Path(src), self._Path(dst), opts)
            return
        p_dst = self._Path(dst)
        if self._fs.exists(p_dst):
            self._fs.delete(p_dst, True)
        if not self._fs.rename(self._Path(src), p_dst):
            raise OSError(f"rename failed: {src} -> {dst}")

    def listdir(self, path: str) -> list[str]:
        return sorted(
            st.getPath().getName()
            for st in self._fs.listStatus(self._Path(path))
        )

    def isdir(self, path: str) -> bool:
        p = self._Path(path)
        return bool(self._fs.exists(p)
                    and self._fs.getFileStatus(p).isDirectory())

    def read_bytes(self, path: str) -> bytes:
        stream = self._fs.open(self._Path(path))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, True)
        return bytes(baos.toByteArray())

    def write_bytes(self, path: str, data: bytes) -> None:
        out = self._fs.create(self._Path(path), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()


def fs_for(path: str, spark=None) -> IndexFS:
    """Pick the store implementation from the path's scheme. Plain paths →
    LocalFS; any URI scheme → HadoopFS (needs the SparkSession for the JVM
    gateway; file:// falls back to LocalFS without one — same storage)."""
    scheme = urlparse(path).scheme
    if scheme in ("", "file") and spark is None:
        return LocalFS()
    if scheme == "":
        return LocalFS()
    return HadoopFS(spark, path)


def join(base: str, *parts: str) -> str:
    """URI-safe path join (posix separators regardless of platform)."""
    return posixpath.join(base, *parts)


def read_json(fs: IndexFS, path: str) -> dict:
    return json.loads(fs.read_bytes(path).decode("utf-8"))


def write_json_atomic(fs: IndexFS, path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    fs.write_bytes(tmp, json.dumps(payload, indent=1, sort_keys=True).encode())
    fs.rename(tmp, path)  # manifest commit is the atomic last step


def swap_dir(fs: IndexFS, tmp: str, dst: str) -> None:
    """Crash-safe live-dir swap: old dir goes ASIDE first, then the new
    one in, then the aside copy is dropped. A crash at any point leaves
    either the old or the new dir recoverable (see restore_swap); the
    committed manifest never points at nothing.

    SCOPE: the crash-safety argument assumes directory rename is one
    atomic step — true on POSIX and HDFS. On S3A a directory rename is a
    per-object copy+delete, so a crash mid-rename can leave BOTH dst and
    dst.bak partially populated; on such stores use the manifest-pointed
    versioned-dir scheme instead (what fold/merge already do: write a new
    generation dir, commit it with one write_json_atomic — no live-dir
    swap at all). The docs-table swap in streaming/ingest.py is the only
    remaining swap_dir caller."""
    bak = dst + ".bak"
    fs.rmtree(bak)
    if fs.exists(dst):
        fs.rename(dst, bak)
    fs.rename(tmp, dst)
    fs.rmtree(bak)


def restore_swap(fs: IndexFS, dst: str) -> None:
    """Heal an interrupted swap_dir: if the live dir is missing but its
    .bak exists, the crash hit between the two renames — put the old dir
    back (the manifest still describes it). If both exist, the crash hit
    before cleanup — drop the stale .bak."""
    bak = dst + ".bak"
    if fs.exists(bak):
        if fs.exists(dst):
            fs.rmtree(bak)
        else:
            fs.rename(bak, dst)


def write_parquet(fs: IndexFS, path: str, table) -> None:
    """Write a pyarrow table as ONE parquet file at ``path`` (parent dirs
    created) — the one parquet write of the segment store that does not
    go through Spark's writers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    fs.makedirs(posixpath.dirname(path))
    fs.write_bytes(path, buf.getvalue())


def read_parquet(fs: IndexFS, path: str, schema):
    """The parquet files of one flat dir as a pyarrow table of ``schema``
    (no Spark job; an empty dir gives no rows). Local stores read in
    place; remote stores fetch each file's bytes once — for small dirs
    such as a generation's tombstones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(fs, LocalFS):
        return pq.read_table(_local(path), schema=schema)
    return pa.concat_tables([schema.empty_table()] + [
        pq.read_table(pa.BufferReader(fs.read_bytes(join(path, name))),
                      schema=schema)
        for name in fs.listdir(path)
        if name.endswith(".parquet") and name[0] not in "._"])


def parquet_num_rows(fs: IndexFS, path: str) -> int:
    """Row count from the parquet footer (no Spark job). Local paths read
    the footer directly; remote stores fetch the file bytes once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(fs, LocalFS):
        return pq.read_metadata(_local(path)).num_rows
    return pq.read_metadata(pa.BufferReader(fs.read_bytes(path))).num_rows


def live_delta_manifests(fs: IndexFS, index_dir: str,
                         m: dict | None = None) -> "dict[int, dict]":
    """gen → manifest of the committed delta generations, each read once.
    Given the index manifest ``m``, only the live ones: past its min_gen
    (folded into the base) and tier_min_gen (squashed by a tier merge)."""
    floor = max(int(m.get("min_gen", 0)),
                int(m.get("tier_min_gen", 0))) if m else -1
    out = {}
    for name in fs.listdir(index_dir):
        if name.startswith("delta_manifest_") and name.endswith(".json"):
            dm = read_json(fs, join(index_dir, name))
            if dm.get("committed") and int(dm["gen"]) > floor:
                out[int(dm["gen"])] = dm
    return out
