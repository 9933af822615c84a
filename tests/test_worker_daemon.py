"""The Python workers run the installed PySpark, not Spark's archives."""

import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow as pa

from sits_classification_spark import worker_daemon as WD

ROOT = Path(__file__).resolve().parent.parent
SPARK_PATH = [
    "/repo",
    "/spark/python/lib/pyspark.zip",
    "/spark/python/lib/py4j-0.10.9.9-src.zip",
    "/spark/jars/spark-core_2.13-4.1.2.jar",
    "/libs/user.zip",
    "/site-packages",
]


def test_worker_imports_pyspark_outside_every_archive(spark):
    def probe(batches):
        import zipimport

        import pyspark

        zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"file": [pyspark.__file__], "zips": [zips]},
                schema=pa.schema([("file", pa.string()), ("zips", pa.int64())]),
            )

    (row,) = spark.range(1, numPartitions=1).mapInArrow(probe, "file string, zips long").collect()
    assert not any(f"{ext}{os.sep}" in row["file"] for ext in (".zip", ".jar")), row["file"]
    assert row["zips"] == 0


def test_importing_the_package_imports_no_pyspark():
    code = "import sits_classification_spark, sys; assert 'pyspark' not in sys.modules"
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)


def test_archives_leave_the_path_only_for_an_installed_pyspark_of_their_version():
    # Spark's three archives go; the user's zip stays in place
    plain = ["/repo", "/libs/user.zip", "/site-packages"]
    assert WD.worker_path(SPARK_PATH, "4.1.2", "4.1.2") == plain
    # no installed pyspark (or no py4j), another version, or no archived
    # pyspark: Spark's order, archives first
    for archived, installed in [("4.1.2", None), ("4.1.2", "4.0.1"), (None, "4.1.2"), (None, None)]:
        assert WD.worker_path(SPARK_PATH, archived, installed) == SPARK_PATH


def test_versions_are_read_without_importing(tmp_path):
    zpath = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("raise ImportError('imported')\n")
    (site / "pyspark" / "version.py").write_text("__version__ = \"4.1.2\"\n")
    assert WD.archive_version([str(site), str(zpath)]) == "4.1.2"
    assert WD.archive_version([str(site)]) is None
    assert WD.archive_version([str(tmp_path / "absent" / "pyspark.zip"), str(zpath)]) is None
    # an installed pyspark counts only with an installed py4j beside it
    assert WD.installed_version([str(site)]) is None
    (site / "py4j").mkdir()
    (site / "py4j" / "__init__.py").write_text("")
    assert WD.installed_version([str(site)]) == "4.1.2"
    assert WD.installed_version([str(tmp_path)]) is None
    # Spark's archive never counts as the installed pyspark
    assert WD.installed_version([str(zpath), str(site)]) == "4.1.2"
