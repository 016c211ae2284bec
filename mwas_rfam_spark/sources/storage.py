"""The one module that touches the Hadoop filesystem.

The result cache, the resume stamps, the per-batch streaming state, the
IVF-PQ build sentinel and partition cleanup keep their progress on disk,
on any Hadoop-compatible path (local, HDFS, s3a). Every filesystem call
they make goes through the functions here, and so does the one rule for
reading output that may not exist yet (:func:`missing_ok`): only the
no-previous-output shapes may pass. Any other analysis failure
(conflicting schemas, unreadable footers) must surface, not silently
trigger a full recompute that appends duplicates.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.errors import AnalysisException

T = TypeVar("T")

# a missing path, or an existing directory with no data file to infer a
# schema from (e.g. a crash before the first commit)
_MISSING_SHAPES = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _resolve(spark, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def exists(spark, path: str) -> bool:
    fs, p = _resolve(spark, path)
    return fs.exists(p)


def delete(spark, path: str) -> None:
    """Delete a file or a whole directory tree; a no-op when absent."""
    fs, p = _resolve(spark, path)
    fs.delete(p, True)


def list_dir(spark, path: str, recursive: bool = False) -> list[tuple[str, bool]]:
    """``(name, is_dir)`` for each entry directly under ``path``, or with
    ``recursive`` for every file below it; ``[]`` when ``path`` is
    absent."""
    fs, p = _resolve(spark, path)
    if not fs.exists(p):
        return []
    if not recursive:
        return [(st.getPath().getName(), st.isDirectory()) for st in fs.listStatus(p)]
    files, it = [], fs.listFiles(p, True)
    while it.hasNext():
        files.append((it.next().getPath().getName(), False))
    return files


def read_bytes(spark, path: str) -> bytes | None:
    """The file's bytes, or ``None`` when it is absent."""
    fs, p = _resolve(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def write_bytes(spark, path: str, data: bytes) -> None:
    """Replace the file at ``path`` so no reader ever sees it torn: write
    a dot-prefixed sibling temp file (invisible to Spark's file index),
    delete the target if it exists, then rename."""
    fs, final = _resolve(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(final.getParent(), f".{final.getName()}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise OSError(f"could not rename {tmp} to {path}")


def missing_ok(read: Callable[[], T]) -> T | None:
    """Run the zero-argument reader; ``None`` when what it reads does
    not exist yet (missing path, or a directory with nothing to infer a
    schema from). Every other ``AnalysisException`` is re-raised."""
    try:
        return read()
    except AnalysisException as e:
        if any(shape in str(e) for shape in _MISSING_SHAPES):
            return None
        raise
