"""The one module that touches persisted state (indexes, markers, sinks,
load logs, rollups, stream sources), through the Hadoop ``FileSystem``
of each path: a bare path, a ``file://`` and an ``s3a://`` URI read the
same. Paths are spelled as Spark's readers take them (Hadoop
``Path(str)``); a scan's percent-encoded ``input_file_name()`` URIs go
through :func:`from_file_uri` first.

- :func:`exists`, :func:`is_dir`;
- :func:`children`: child names without hidden ``_``/``.`` entries
  (markers, ``_SUCCESS``, checksums); a missing path has none;
- :func:`delete`: recursive; a missing path is a no-op;
- :func:`rename`: ``src`` onto ``dst``, replacing ``dst``;
- :func:`read_text` / :func:`write_text`: a small marker (None when
  absent), written to a temp sibling that is renamed over it. A local
  FS rename replaces a file in one step: readers see the old or the new
  value. Where rename refuses an existing target (HDFS, S3A) the old
  marker is deleted first: a reader in that instant sees none, never a
  torn one (an object-store upload appears whole when it closes);
- :func:`file_status`: (qualified path, length, mtime) of a file;
- :func:`list_files`: (path, length) of the files a glob matches under
  a directory (all its files by default; ``{cell=1,*/cell=1}/*`` for
  one partition at either of two depths), skipping hidden ``_``/``.``
  entries at every level below it as Spark's parquet reader does (so a
  pending ``_temporary`` write is not listed); a missing path has none;
- :func:`read_bytes` / :func:`read_files`: whole files' bytes. With
  :func:`list_files` they are the driver-side parquet read of small
  persisted tables: the index parameter tables and the probed cells of
  a serving-sized index probe
  (``pyarrow.parquet.read_table(pyarrow.BufferReader(...))``).

Every call is a driver-side metadata call: none starts a Spark job.
"""

from __future__ import annotations

import os
import tempfile
from urllib.parse import unquote

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


class _Jvm:
    """The JVM classes, static methods and Hadoop conf the calls use,
    looked up once per SparkContext: ``spark._jvm.org.apache.hadoop.fs
    .Path`` costs one py4j round trip per name in the chain."""

    def __init__(self, spark: SparkSession):
        jvm = spark._jvm
        self.jsc = spark._jsc
        self.conf = spark._jsc.hadoopConfiguration()
        self.Path = jvm.org.apache.hadoop.fs.Path
        self.stat2Paths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths
        self.genericWrapArray = jvm.scala.Predef.genericWrapArray
        self.copyBytes = jvm.org.apache.hadoop.io.IOUtils.copyBytes
        self.FileOutputStream = jvm.java.io.FileOutputStream


_jvm_of_context: _Jvm | None = None


def _jvm(spark: SparkSession) -> _Jvm:
    global _jvm_of_context
    j = _jvm_of_context
    if j is None or j.jsc is not spark._jsc:
        j = _jvm_of_context = _Jvm(spark)
    return j


def _fs(spark: SparkSession, path: str):
    j = _jvm(spark)
    p = j.Path(path)
    return p.getFileSystem(j.conf), p


def from_file_uri(uri: str) -> str:
    """Path spelling of a scanned file's URI (a Hive-escaped
    ``month=2024%3A01`` dir arrives as ``month=2024%253A01``)."""
    return unquote(uri)


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return fs.exists(p)


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return fs.isDirectory(p)


def children(spark: SparkSession, path: str) -> list[str]:
    fs, p = _fs(spark, path)
    if not fs.isDirectory(p):
        return []
    # all names in one py4j call, not three per child: py4j passes a
    # Path[] only as an Object, the erased type genericWrapArray takes
    j = _jvm(spark)
    listed = j.genericWrapArray(
        j.stat2Paths(fs.listStatus(p))).mkString("\n")
    names = (s.rsplit("/", 1)[-1] for s in listed.split("\n") if s)
    return sorted(n for n in names if not n.startswith(("_", ".")))


def delete(spark: SparkSession, path: str) -> None:
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, s = _fs(spark, src)
    d = _jvm(spark).Path(dst)
    # never rename a directory onto an existing one: Hadoop moves it
    # INSIDE the target instead of replacing it
    if fs.isDirectory(s) or not fs.rename(s, d):
        fs.delete(d, True)
        if not fs.rename(s, d):
            raise IOError(f"rename {src} -> {dst} failed")


def read_files(spark: SparkSession, paths) -> list[bytes]:
    """Each file's whole bytes, in order. The driver JVM, on this
    process's host, copies the files into a local temporary directory
    and Python reads them there: a payload returned through py4j costs
    one Python call per byte (a ``byte[]``) or a socket stall of about
    40 ms (a string of some hundred KB)."""
    j = _jvm(spark)
    out = []
    with tempfile.TemporaryDirectory(prefix="storage-read-") as tmp:
        for i, path in enumerate(paths):
            src, local = j.Path(path), os.path.join(tmp, str(i))
            j.copyBytes(src.getFileSystem(j.conf).open(src),
                        j.FileOutputStream(local), 1 << 16, True)
            with open(local, "rb") as f:
                out.append(f.read())
    return out


def read_bytes(spark: SparkSession, path: str) -> bytes:
    return read_files(spark, [path])[0]


def read_text(spark: SparkSession, path: str) -> str | None:
    if not exists(spark, path):
        return None
    return read_bytes(spark, path).decode("utf-8")


def write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, p = _fs(spark, path + ".tmp")
    stream = fs.create(p, True)
    try:
        stream.write(text.encode("utf-8"))
    finally:
        stream.close()
    rename(spark, path + ".tmp", path)


def file_status(spark: SparkSession, path: str) -> tuple | None:
    """None for a directory or a path the FileSystem cannot stat."""
    try:
        fs, p = _fs(spark, path)
        st = fs.getFileStatus(p)
    except Py4JJavaError:
        return None
    if not st.isFile():
        return None
    return (fs.makeQualified(st.getPath()).toString(), st.getLen(),
            st.getModificationTime())


def list_files(spark: SparkSession, path: str,
               pattern: str = "*") -> list[tuple[str, int]]:
    """(qualified path, length) of the visible files that the Hadoop
    glob ``pattern`` matches under the directory ``path``, sorted by
    path. The glob is expanded in the JVM, so the py4j calls grow with
    the matched files only (the names cross in one call, then two per
    visible file for its length)."""
    fs, p = _fs(spark, path)
    j = _jvm(spark)
    statuses = fs.globStatus(j.Path(p, pattern))
    if statuses is None or len(statuses) == 0:
        return []
    root = fs.makeQualified(p).toString().rstrip("/") + "/"
    listed = j.genericWrapArray(j.stat2Paths(statuses)).mkString("\n")
    out = []
    for i, full in enumerate(listed.split("\n")):
        rel = full[len(root):] if full.startswith(root) else full
        if not any(part.startswith(("_", ".")) for part in rel.split("/")):
            out.append((full, statuses[i].getLen()))
    return sorted(out)
