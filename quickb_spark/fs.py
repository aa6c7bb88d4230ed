"""Side-file I/O through the Hadoop FileSystem API.

The index layout keeps small side files next to the parquet data: per-bucket
meta JSONs, stats.json, fold-commit markers, _SUCCESS probes. Plain
`os.*`/`open()` only works when the index dir is on the driver's local
disk; with `hdfs://`, `s3a://`, `file://` (or any Hadoop-supported scheme)
those calls silently break resume. Everything here goes through
`Path.getFileSystem(hadoopConf)` from the active SparkSession's JVM, so the
SAME commit protocol works on every storage the data files use.

Atomicity note: `write_text_atomic` writes a `.tmp` sibling then renames.
On HDFS and local filesystems rename is atomic; on S3-like object stores it
is copy+delete — still safe for this protocol because readers treat a
missing/partial side file as "not committed" and writers are idempotent.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = ["IndexFS", "join_path"]


def join_path(*parts: str) -> str:
    """URI-safe join (os.path.join would mangle scheme-qualified paths)."""
    out = parts[0].rstrip("/")
    for p in parts[1:]:
        out += "/" + p.strip("/")
    return out


class IndexFS:
    """Hadoop-FileSystem-backed side-file operations for one base URI."""

    def __init__(self, base: str, spark: SparkSession | None = None) -> None:
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("IndexFS needs an active SparkSession")
        # resolved once: each package hop is a py4j round trip
        self._Path = spark._jvm.org.apache.hadoop.fs.Path
        self._IOUtils = spark._jvm.org.apache.commons.io.IOUtils
        conf = spark._jsc.hadoopConfiguration()
        self._fs = self._path(base).getFileSystem(conf)

    def _path(self, p: str):
        return self._Path(p)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._path(path)))

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._path(path))

    def delete(self, path: str, recursive: bool = True) -> None:
        self._fs.delete(self._path(path), recursive)

    def rename(self, src: str, dst: str, overwrite: bool = True) -> None:
        if overwrite and self.exists(dst):
            self._fs.delete(self._path(dst), True)
        if not self._fs.rename(self._path(src), self._path(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def listdir(self, path: str) -> list[str]:
        it = self._fs.listStatus(self._path(path))
        return sorted(s.getPath().getName() for s in it)

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._path(path))
        try:
            return self._IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        stream = self._fs.create(self._path(path), True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        self.write_text(tmp, text)
        self.rename(tmp, path)
