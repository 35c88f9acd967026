"""Small-file metadata I/O through the Hadoop FileSystem API.

The engine's checkpoint/store *data* always went through Spark writers
(cluster-FS ready); the JSON *metadata* sidecars previously used
driver-local ``open()``/``os.replace`` and pinned ``checkpoint_dir`` to
a local path.  These helpers route metadata through
``org.apache.hadoop.fs.FileSystem`` (py4j), so a checkpoint / block
store directory may be ``hdfs://``, ``s3a://``, ``file://`` or a plain
local path — whatever the cluster's Hadoop configuration resolves.

Only kilobyte-scale JSON goes through here (py4j byte-array transfer is
fine at that size); bulk data stays on Spark writers/readers.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Any

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def write_json_atomic(spark: SparkSession, path: str, obj: Any) -> None:
    """Write JSON via tmp-file + rename-with-overwrite (the commit
    marker the resume protocol relies on).  The overwrite rename goes
    through ``FileContext`` (``Options.Rename.OVERWRITE``) so replacing
    an existing file is a SINGLE atomic flip on HDFS/POSIX — a separate
    delete-then-rename would lose the already-committed previous version
    if the process dies between the two calls.  Filesystems without
    FileContext support fall back to delete+rename (object stores, where
    rename is copy+delete anyway and the single-flip property cannot be
    had)."""
    fs, dst, jvm = _fs_and_path(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj, indent=1, default=str).encode()))
    finally:
        out.close()
    try:
        conf = spark._jsc.hadoopConfiguration()
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            dst.toUri(), conf
        )
        opts = spark._sc._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(tmp, dst, opts)
    except Exception:
        if fs.exists(dst):
            fs.delete(dst, False)
        if not fs.rename(tmp, dst):
            raise OSError(f"rename {path}.tmp -> {path} failed")


def read_json(spark: SparkSession, path: str) -> dict:
    fs, jpath, jvm = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode())


def fs_delete(spark: SparkSession, path: str, recursive: bool = True) -> None:
    """Delete a file/directory if it exists (no-op otherwise)."""
    fs, jpath, _ = _fs_and_path(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, recursive)


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def fs_list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Names of child directories (sorted), [] if path doesn't exist."""
    fs, jpath, _ = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(jpath)
        if st.isDirectory()
    )


def is_remote(path: str) -> bool:
    """True when the path needs a filesystem driver (not plain local).
    ``file://`` counts as local for the worker-side fast path."""
    if "://" not in path:
        return False
    return not path.startswith("file://")


def strip_file_scheme(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def local_or_uri_abspath(path: str) -> str:
    """abspath for plain local paths; URIs pass through untouched."""
    return path if "://" in path else os.path.abspath(path)


def local_temp_dir(master: str, prefix: str, param: str) -> str:
    """A fresh driver-local temp dir for a default that only local mode
    can use: under ``local``/``local[...]`` the executors share the
    driver's disk; on any other master they cannot read it, so the
    caller must pass ``param`` on storage every executor can read."""
    if master != "local" and not master.startswith("local["):
        raise ValueError(
            f"no {param} given and master {master!r} is not local: "
            "executors cannot read a driver-local temp dir — pass "
            f"{param} on shared storage (hdfs://, s3a://, a shared mount)"
        )
    return tempfile.mkdtemp(prefix=prefix)
