"""The Python worker daemon (worker_daemon.py): tasks import the
installed pyspark, not Spark's zip, and the path pruning falls back to
Spark's own path whenever the installed build is not the zipped one."""

from __future__ import annotations

import os
import zipfile

from stock_price_prediction_using_stream_and_batch_processing_spark.worker_daemon import prune_spark_archives


def test_tasks_import_pyspark_outside_any_archive(spark):
    """Inside a Python task, pyspark comes from a plain directory and no
    zipimporter is cached, so the per-task ``invalidate_caches()`` in
    ``worker_util.setup_spark_files`` re-reads no archive directory.
    Holds where the pip pyspark is the same build as Spark's zip (this
    project's toolchain); under ``pyspark.daemon`` it reads the zip."""
    import pyarrow as pa

    def probe(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        cached = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({"file": [pyspark.__file__], "zip_importers": [",".join(cached)]})

    got = spark.range(8, numPartitions=1).mapInArrow(probe, "file string, zip_importers string").collect()
    assert len(got) == 1
    assert ".zip" not in got[0]["file"], got[0]["file"]
    assert got[0]["zip_importers"] == ""


def _zip(path, files):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, body in files.items():
            z.writestr(name, body)
    return str(path)


def _pkg_dir(root, files):
    for name, body in files.items():
        p = root / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(body)
    return str(root)


def _spark_path(tmp_path, version=b"__version__ = '9.9.9'\n"):
    """Spark's three worker-path entries over fake archives."""
    pyspark_zip = _zip(tmp_path / "lib" / "pyspark.zip", {"pyspark/__init__.py": "", "pyspark/version.py": version})
    py4j_zip = _zip(tmp_path / "lib" / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""})
    jar = _zip(tmp_path / "jars" / "spark-core_2.13-9.9.9.jar", {"org/apache/spark/Foo.class": ""})
    return [pyspark_zip, py4j_zip, jar]


def test_prune_drops_spark_archives_when_builds_match(tmp_path):
    spark_entries = _spark_path(tmp_path)
    site = _pkg_dir(
        tmp_path / "site",
        {"pyspark/__init__.py": "", "pyspark/version.py": "__version__ = '9.9.9'\n", "py4j/__init__.py": ""},
    )
    other = _pkg_dir(tmp_path / "repo", {"mypkg/__init__.py": ""})
    user_jar = _zip(tmp_path / "jars" / "user-lib.jar", {"mylib/__init__.py": ""})
    path = [other, *spark_entries, user_jar, site]
    assert prune_spark_archives(path) == [other, user_jar, site]


def test_prune_keeps_spark_path_without_installed_pyspark(tmp_path):
    site = _pkg_dir(tmp_path / "site", {"py4j/__init__.py": "", "numpy_like/__init__.py": ""})
    path = [*_spark_path(tmp_path), site]
    assert prune_spark_archives(path) is path


def test_prune_keeps_spark_path_when_builds_differ(tmp_path):
    site = _pkg_dir(
        tmp_path / "site",
        {"pyspark/__init__.py": "", "pyspark/version.py": "__version__ = '9.9.8'\n", "py4j/__init__.py": ""},
    )
    path = [*_spark_path(tmp_path), site]
    assert prune_spark_archives(path) is path


def test_prune_keeps_spark_path_without_installed_py4j(tmp_path):
    site = _pkg_dir(tmp_path / "site", {"pyspark/__init__.py": "", "pyspark/version.py": "__version__ = '9.9.9'\n"})
    path = [*_spark_path(tmp_path), site]
    assert prune_spark_archives(path) is path


def test_prune_leaves_a_path_without_spark_zip(tmp_path):
    site = _pkg_dir(tmp_path / "site", {"pyspark/__init__.py": "", "pyspark/version.py": "x\n", "py4j/__init__.py": ""})
    path = [site, str(tmp_path / "jars" / "other.jar")]
    assert prune_spark_archives(path) is path
