"""Scheme-aware filesystem helpers (Hadoop FileSystem API).

``file://``, ``s3a://``, ``hdfs://`` all resolve through the same API, so
store probes and size estimates behave identically on a laptop and on a
cluster — the replacement for ``os.listdir``/``os.path.getsize`` calls
that silently see nothing on remote stores.
"""

from __future__ import annotations

import glob
import os
import shutil
from urllib.parse import urlparse


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for any scheme Hadoop supports.  Raises on
    sessions without a JVM gateway (Spark Connect) — callers fall back."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def is_local_path(path: str) -> bool:
    """True for plain paths and file:// URIs (safe for os-level renames)."""
    return urlparse(path).scheme in ("", "file")


# Filesystems whose directory rename is ATOMIC (a metadata operation):
# local/file, HDFS, viewfs.  Object stores (s3a, gs, wasb/abfs in their
# non-hierarchical modes) implement rename as copy+delete — swapping a
# live index through one risks readers seeing a half-copied store, so
# callers needing an atomic swap must refuse there.
ATOMIC_RENAME_SCHEMES = {"", "file", "hdfs", "viewfs"}


def supports_atomic_rename(path: str) -> bool:
    return urlparse(path).scheme in ATOMIC_RENAME_SCHEMES


def fs_exists(spark, path: str) -> bool:
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def fs_rename(spark, src: str, dst: str) -> bool:
    """Filesystem-level rename (atomic only on ATOMIC_RENAME_SCHEMES);
    False when the filesystem refuses (e.g. dst exists on some FSes)."""
    fs, jsrc = hadoop_fs(spark, src)
    _, jdst = hadoop_fs(spark, dst)
    return bool(fs.rename(jsrc, jdst))


def fs_delete(spark, path: str) -> bool:
    """Recursive delete; False if the path did not exist."""
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.delete(jpath, True))


def fs_copy_file(spark, src: str, dst: str) -> None:
    """Single-file copy via Hadoop FileUtil (any scheme pair)."""
    jvm = spark._jvm
    sfs, jsrc = hadoop_fs(spark, src)
    dfs, jdst = hadoop_fs(spark, dst)
    jvm.org.apache.hadoop.fs.FileUtil.copy(
        sfs, jsrc, dfs, jdst, False, spark._jsc.hadoopConfiguration())


def file_len(spark, path: str) -> int | None:
    """Size in bytes via the Hadoop FS (any scheme); None if unknowable."""
    try:
        fs, jpath = hadoop_fs(spark, path)
        return int(fs.getFileStatus(jpath).getLen())
    except Exception:
        return None


# Tiered access for the small control files and listings a store keeps
# (format stamps, the generation manifest, ingest directories).  Each
# helper tries the Hadoop FS through the JVM gateway (any scheme), then
# plain file IO for local paths on gateway-less sessions (Spark Connect),
# then the Spark API where it can answer.  The tiers sit here once, so a
# caller never hand-writes the fallback.

def local_of(path: str) -> str:
    # manual scheme strip: a '#' or '?' in a directory name must not
    # truncate the path the way urlparse would
    return path[7:] if path.startswith("file://") else path


def path_exists(spark, path: str) -> bool:
    """Whether ``path`` exists.  The Spark API tier reads the path as
    text: an explicit file path reads even an underscore-hidden file."""
    try:
        return fs_exists(spark, path)
    except Exception:
        pass
    if is_local_path(path):
        return os.path.exists(local_of(path))
    try:
        spark.read.format("text").load(path).collect()
        return True
    except Exception:
        return False


def read_small_text(spark, path: str, max_bytes: int = 256) -> str | None:
    """The content of a tiny control file; None if it does not exist on
    any reachable tier.  A file written through the Spark API is a
    DIRECTORY of part files: its first non-empty part is the content."""
    try:
        fs, jpath = hadoop_fs(spark, path)
        if not fs.exists(jpath):
            return None
        stream = fs.open(jpath)
        try:
            # one gateway round trip, not one per byte
            buf = bytes(stream.readNBytes(max_bytes))
        finally:
            stream.close()
        return buf.decode("utf-8", "replace")
    except Exception:
        pass
    if is_local_path(path):
        local = local_of(path)
        if os.path.isdir(local):
            for pf in sorted(glob.glob(os.path.join(local, "part-*"))):
                with open(pf, encoding="utf-8") as fh:
                    content = fh.read(max_bytes).strip()
                if content:
                    return content
            return None
        if not os.path.isfile(local):
            return None
        with open(local, encoding="utf-8") as fh:
            return fh.read(max_bytes)
    try:
        rows = spark.read.text(path).collect()
        return "\n".join(r[0] for r in rows)
    except Exception:
        return None


def write_small_text(spark, path: str, content: str) -> bool:
    """(Re)write a tiny control file as one file: a Hadoop FS create
    with overwrite (a single PUT on object stores, which the manifest
    flip relies on), or a local write + ``os.replace``.  False when
    neither tier can write (remote path, no gateway): the Spark API can
    only write a directory, which is not one atomic file."""
    try:
        fs, jpath = hadoop_fs(spark, path)
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(content.encode()))
        finally:
            out.close()
        return True
    except Exception:
        pass
    if not is_local_path(path):
        return False
    local = local_of(path)
    os.makedirs(os.path.dirname(local), exist_ok=True)
    tmp = local + ".__tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(content)
    os.replace(tmp, local)   # atomic on POSIX
    return True


def list_names(spark, path: str) -> list[str] | None:
    """Child entry names of a directory ([] when it is missing); None
    when no tier can list it (remote path, no gateway)."""
    try:
        fs, jpath = hadoop_fs(spark, path)
        if not fs.exists(jpath):
            return []
        return [st.getPath().getName() for st in fs.listStatus(jpath)]
    except Exception:
        pass
    if not is_local_path(path):
        return None
    try:
        return os.listdir(local_of(path))
    except OSError:
        return []


def delete_path(spark, path: str) -> None:
    """Best-effort recursive delete."""
    try:
        fs_delete(spark, path)
        return
    except Exception:
        pass
    if is_local_path(path):
        shutil.rmtree(local_of(path), ignore_errors=True)
