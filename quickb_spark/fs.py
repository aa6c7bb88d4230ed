"""Index storage: the one module that resolves, lists and reaches index
paths, all through `pyarrow.fs` and with no SparkSession: the runs,
segments and lexicon tasks read and write, the driver's listings, and the
side files (meta JSONs, stats.json, commit ledger, fold markers, _SUCCESS
probes, a stream checkpoint's logs). Scheme-less paths and `file:` URIs
are local; any other URI goes to `FileSystem.from_uri`. A path pyarrow
cannot resolve or list raises `UnreachableIndexError` naming it.

`write_text_atomic` writes a temp sibling named per process and thread,
then `move`s it over the target: one `rename(2)` on a local filesystem, so
the target is replaced in a single step and never deleted first. On an
object store a move is copy+delete, still safe here: readers treat a
missing or partial side file as "not committed" and writers are
idempotent.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from urllib.parse import unquote, urlsplit

from pyarrow import fs as pafs

__all__ = [
    "IndexFS",
    "UnreachableIndexError",
    "join_path",
    "pyarrow_fs_for",
    "list_bucket_files",
    "list_parquet_files",
    "file_listing",
]


class UnreachableIndexError(OSError):
    """pyarrow cannot resolve or list a path of the index, so no task could
    read or write its files."""


@contextmanager
def _reaching(uri: str):
    """Turn what pyarrow raises for a path it cannot reach (ArrowInvalid
    for an unknown scheme, ArrowIOError, ArrowNotImplementedError) into
    UnreachableIndexError naming `uri`."""
    try:
        yield
    except UnreachableIndexError:
        raise
    except (OSError, ValueError, NotImplementedError) as e:
        raise UnreachableIndexError(
            f"cannot reach {uri!r} with pyarrow: {e}"
        ) from e


def join_path(*parts: str) -> str:
    """URI-safe join (os.path.join would mangle scheme-qualified paths)."""
    out = parts[0].rstrip("/")
    for p in parts[1:]:
        out += "/" + p.strip("/")
    return out


def _local_path(uri: str) -> str | None:
    """The local path of a scheme-less path or a file:/p, file:///p URI;
    None for any other scheme."""
    if uri.startswith("file:"):
        path = uri[len("file:") :]
        while path.startswith("//"):
            path = path[1:]
        return path
    return None if "://" in uri else uri


def _uri_prefix(uri: str, root: str) -> str:
    """What `uri` carries before pyarrow's path `root` ("s3://",
    "hdfs://nn:8020"), to re-qualify listed paths."""
    return uri[: uri.rstrip("/").rfind(root.rstrip("/"))]


def pyarrow_fs_for(uri: str):
    """-> (pyarrow FileSystem, path-without-scheme) for a path or URI:
    plain paths and file:/p, file:///p are local; s3://..., hdfs://... go
    to `FileSystem.from_uri`."""
    path = _local_path(uri)
    if path is not None:
        return pafs.LocalFileSystem(), path
    return pafs.FileSystem.from_uri(uri)


def _is_parquet(info) -> bool:
    return info.type == pafs.FileType.File and info.base_name.endswith(".parquet")


def list_bucket_files(flat_dir: str, buckets: list[int]) -> list[tuple[int, str, int]]:
    """[(bucket, file-path, bytes)] of the `.parquet` files under the given
    buckets' `bucket=<b>` dirs (missing dirs list nothing), paths as the
    filesystem of `flat_dir` reads them."""
    with _reaching(flat_dir):
        fsys, root = pyarrow_fs_for(flat_dir)
        return [
            (b, i.path, int(i.size or 0))
            for b in buckets
            for i in fsys.get_file_info(pafs.FileSelector(
                f"{root.rstrip('/')}/bucket={b}", recursive=True,
                allow_not_found=True,
            ))
            if _is_parquet(i)
        ]


def list_parquet_files(uri: str) -> list[tuple[str, int]]:
    """[(path, bytes)] of the data files under a parquet dir/URI (paths as
    pyarrow_fs_for takes them), sorted: the group plan's base."""
    with _reaching(uri):
        fsys, root = pyarrow_fs_for(uri)
        infos = fsys.get_file_info(pafs.FileSelector(root, recursive=True))
    local = isinstance(fsys, pafs.LocalFileSystem)
    prefix = "" if local else _uri_prefix(uri, root)
    return sorted((prefix + i.path, int(i.size or 0)) for i in infos
                  if _is_parquet(i))


def file_listing(uris: list[str]) -> list[tuple[str, int]] | None:
    """[(path, bytes)] of Hadoop's percent-encoded file URIs, sorted, `file:`
    ones decoded; None when there are none or pyarrow cannot reach one."""
    if not uris:
        return None
    paths = [unquote(urlsplit(u).path) if u.startswith("file:") else u
             for u in uris]
    try:
        with _reaching(paths[0]):
            fsys, _ = pyarrow_fs_for(paths[0])
            infos = fsys.get_file_info([pyarrow_fs_for(p)[1] for p in paths])
    except UnreachableIndexError:
        return None
    if any(i.type != pafs.FileType.File for i in infos):
        return None
    return sorted((p, int(i.size)) for p, i in zip(paths, infos))


class IndexFS:
    """Side-file operations on the filesystem of one base path or URI.
    Paths passed to the methods are full paths/URIs under that base."""

    def __init__(self, base: str) -> None:
        with _reaching(base):
            self.fs, root = pyarrow_fs_for(base)
        self._prefix = _uri_prefix(base, root)

    def _path(self, uri: str) -> str:
        local = _local_path(uri)
        return local if local is not None else uri[len(self._prefix) :]

    def exists(self, path: str) -> bool:
        info = self.fs.get_file_info(self._path(path))
        return info.type != pafs.FileType.NotFound

    def mkdirs(self, path: str) -> None:
        self.fs.create_dir(self._path(path), recursive=True)

    def delete(self, path: str) -> None:
        """Remove a file or a whole directory tree; nothing if missing."""
        p = self._path(path)
        kind = self.fs.get_file_info(p).type
        if kind == pafs.FileType.Directory:
            self.fs.delete_dir(p)
        elif kind != pafs.FileType.NotFound:
            self.fs.delete_file(p)

    def rename(self, src: str, dst: str) -> None:
        """Move a file, replacing `dst` if it exists."""
        self.fs.move(self._path(src), self._path(dst))

    def listdir(self, path: str) -> list[str]:
        infos = self.fs.get_file_info(pafs.FileSelector(self._path(path)))
        return sorted(i.base_name for i in infos)

    def read_text(self, path: str) -> str:
        with self.fs.open_input_stream(self._path(path)) as f:
            return f.read().decode("utf-8")

    def write_text_atomic(self, path: str, text: str) -> None:
        """Write `text` to a temp sibling in `path`'s existing dir, then
        move it over `path`."""
        p = self._path(path)
        tmp = f"{p}.tmp.{os.getpid()}.{threading.get_ident()}"
        with self.fs.open_output_stream(tmp) as f:
            f.write(text.encode("utf-8"))
        self.fs.move(tmp, p)
