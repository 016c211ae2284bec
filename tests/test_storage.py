"""storage: the one module that touches the Hadoop filesystem."""

import os
import pathlib
import re

import pytest
from pyspark.errors import AnalysisException

from mwas_rfam_spark.sources import storage

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "mwas_rfam_spark"


def test_missing_ok_passes_only_absent_output(spark, tmp_path):
    missing = str(tmp_path / "never_written")
    assert storage.missing_ok(lambda: spark.read.parquet(missing)) is None
    empty = tmp_path / "empty_dir"
    empty.mkdir()
    assert storage.missing_ok(lambda: spark.read.parquet(str(empty))) is None

    table = str(tmp_path / "table")
    spark.range(3).write.parquet(table)
    assert storage.missing_ok(lambda: spark.read.parquet(table).count()) == 3
    with pytest.raises(AnalysisException):
        storage.missing_ok(lambda: spark.read.parquet(table).select("no_such_column"))


def test_write_bytes_round_trips_and_leaves_no_temp_file(spark, tmp_path):
    path = str(tmp_path / "stamps" / "_stamp")
    storage.write_bytes(spark, path, b"first")
    assert storage.read_bytes(spark, path) == b"first"
    storage.write_bytes(spark, path, b"second\nline")  # replaces
    assert storage.read_bytes(spark, path) == b"second\nline"
    storage.write_bytes(spark, path, b"")
    assert storage.read_bytes(spark, path) == b""
    left = os.listdir(tmp_path / "stamps")
    assert "_stamp" in left and not [n for n in left if n.endswith(".tmp")]


def test_absent_paths_read_as_empty(spark, tmp_path):
    missing = str(tmp_path / "absent")
    assert storage.list_dir(spark, missing) == []
    assert storage.read_bytes(spark, missing) is None
    assert storage.exists(spark, missing) is False
    storage.delete(spark, missing)  # no-op


def test_list_dir_and_delete(spark, tmp_path):
    root = tmp_path / "root"
    (root / "k=1").mkdir(parents=True)
    (root / "k=1" / "part-0").write_text("x")
    (root / "part-1").write_text("y")
    assert sorted(storage.list_dir(spark, str(root))) == [("k=1", True), ("part-1", False)]
    names = sorted(n for n, _ in storage.list_dir(spark, str(root), recursive=True))
    assert [n for n in names if n.startswith("part-")] == ["part-0", "part-1"]
    storage.delete(spark, str(root / "k=1"))
    assert not (root / "k=1").exists() and storage.exists(spark, str(root))


def test_no_filesystem_access_outside_storage():
    """Every Hadoop-filesystem call and the missing-path rule live in
    sources/storage.py."""
    raw = re.compile(
        r"hadoop\.fs|getFileSystem|hadoopConfiguration\(\)|PATH_NOT_FOUND|UNABLE_TO_INFER_SCHEMA"
    )
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "sources" / "storage.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if raw.search(line)
    ]
    assert hits == []
