"""Filesystem abstraction for the stored index.

The reference talks to storage through ``IStorageManager``
(``include/spatialindex/SpatialIndex.h:156-164``) so the same tree runs on
disk, memory, or user-supplied pages (``src/capi/CustomStorage.cc``).  The
distributed analog: every driver-side file operation the index layout needs
(manifest swap, bucket sweep, spec read/write, the driver-side manifest
read and write, the parquet footer reads that commit a write) goes
through this interface,
so the index can live on local disk in tests and on HDFS/S3A on a cluster —
Spark itself already reads/writes any Hadoop-FS URI; this closes the gap
for the *driver-side* metadata ops.

Two implementations:

* :class:`LocalFS` — plain ``os``/``shutil`` (the default for bare paths);
* :class:`HadoopFS` — the JVM ``org.apache.hadoop.fs.FileSystem`` resolved
  from the session's Hadoop configuration; works for ``hdfs://``, ``s3a://``
  and also ``file://`` (which is how tests exercise this code path without
  a cluster).

``get_fs(spark, path)`` picks by URI scheme.  All paths are joined with
"/" (URI semantics) — ``os.path.join`` would mangle scheme-qualified paths.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def join(*parts: str) -> str:
    """URI-safe path join (no scheme mangling)."""
    out = parts[0].rstrip("/")
    for p in parts[1:]:
        out += "/" + p.strip("/")
    return out


class LocalFS:
    """Driver-side file ops on the local filesystem."""

    def listdir(self, path: str) -> list[str]:
        import os

        return os.listdir(path) if os.path.isdir(path) else []

    def exists(self, path: str) -> bool:
        import os

        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        import os

        return os.path.isdir(path)

    def mkdirs(self, path: str) -> None:
        import os

        os.makedirs(path, exist_ok=True)

    def delete(self, path: str) -> None:
        import os
        import shutil

        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def rename(self, src: str, dst: str) -> None:
        """Atomic-ish move; dst must not exist (callers rename-aside first)."""
        import shutil

        shutil.move(src, dst)

    def sizes(self, path: str) -> dict[str, int]:
        """Byte size of every entry of the directory ``path``."""
        import os

        if not os.path.isdir(path):
            return {}
        with os.scandir(path) as it:
            return {e.name: e.stat().st_size for e in it}

    def uri(self, path: str) -> str:
        """``path`` as the scheme-qualified URI Spark names its files by
        (``inputFiles()``, ``input_file_name()``)."""
        import os

        return "file://" + os.path.abspath(path)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def read_tail(self, path: str, n: int) -> bytes:
        """The last ``n`` bytes of a file (fewer if it is shorter)."""
        import os

        with open(path, "rb") as f:
            f.seek(max(0, os.fstat(f.fileno()).st_size - n))
            return f.read()

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode()

    def write_bytes(self, path: str, data: bytes) -> None:
        """Write ``data`` to ``path`` under a hidden temp name, then rename
        it in: readers (Spark lists ``.``-prefixed names as hidden) never
        see a partial file, and the rename is the commit point."""
        import os

        parent, name = os.path.split(path)
        os.makedirs(parent, exist_ok=True)
        tmp = os.path.join(parent, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)  # atomic on POSIX

    def write_text(self, path: str, text: str) -> None:
        self.write_bytes(path, text.encode())


class HadoopFS:
    """Driver-side file ops through the JVM Hadoop FileSystem API.

    Resolved per-path, so one instance handles any scheme the session's
    Hadoop conf knows (file://, hdfs://, s3a://, ...).
    """

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _path(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        return self._path(path).getFileSystem(self._conf)

    def listdir(self, path: str) -> list[str]:
        p = self._path(path)
        fs = self._fs(path)
        if not fs.exists(p) or not fs.getFileStatus(p).isDirectory():
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    def exists(self, path: str) -> bool:
        return self._fs(path).exists(self._path(path))

    def isdir(self, path: str) -> bool:
        fs = self._fs(path)
        p = self._path(path)
        return fs.exists(p) and fs.getFileStatus(p).isDirectory()

    def mkdirs(self, path: str) -> None:
        self._fs(path).mkdirs(self._path(path))

    def delete(self, path: str) -> None:
        self._fs(path).delete(self._path(path), True)

    def rename(self, src: str, dst: str) -> None:
        ok = self._fs(src).rename(self._path(src), self._path(dst))
        if not ok:
            raise OSError(f"rename failed: {src} -> {dst}")

    def sizes(self, path: str) -> dict[str, int]:
        p = self._path(path)
        fs = self._fs(path)
        if not fs.exists(p) or not fs.getFileStatus(p).isDirectory():
            return {}
        return {
            st.getPath().getName(): st.getLen() for st in fs.listStatus(p)
        }

    def uri(self, path: str) -> str:
        return path

    def read_bytes(self, path: str) -> bytes:
        stream = self._fs(path).open(self._path(path))
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def read_tail(self, path: str, n: int) -> bytes:
        fs = self._fs(path)
        p = self._path(path)
        size = fs.getFileStatus(p).getLen()
        n = min(n, size)
        stream = fs.open(p)
        try:
            stream.seek(size - n)
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream, n)
            )
        finally:
            stream.close()

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode()

    def write_bytes(self, path: str, data: bytes) -> None:
        parent, name = path.rsplit("/", 1)
        self.mkdirs(parent)
        tmp = self._path(f"{parent}/.{name}.tmp")
        fs = self._fs(path)
        stream = fs.create(tmp, True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        p = self._path(path)
        if fs.exists(p):
            fs.delete(p, False)
        if not fs.rename(tmp, p):
            raise OSError(f"rename failed: {tmp} -> {path}")

    def write_text(self, path: str, text: str) -> None:
        self.write_bytes(path, text.encode())


def get_fs(spark: SparkSession, path: str):
    """Pick the FS impl by URI scheme (bare paths → local)."""
    if "://" in path:
        return HadoopFS(spark)
    return LocalFS()
