"""The Python worker daemon (fermor_spark/worker_daemon.py): its
version guard, which copy of pyspark the workers import, and the
workers' path from a driver whose cwd is not the repository root."""

import os
import subprocess
import sys
import zipfile

import pandas as pd

from fermor_spark import worker_daemon as wd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_ZIP = "/spark/python/lib/pyspark.zip"
PY4J_ZIP = "/spark/python/lib/py4j-0.10.9.9-src.zip"
ZIPS = {SPARK_ZIP: ("pyspark", "4.1.2"), PY4J_ZIP: ("py4j", "0.10.9.9")}


def test_guard_drops_zips_when_versions_match():
    assert wd.zips_to_drop(ZIPS, {"pyspark": "4.1.2", "py4j": "0.10.9.9"}) \
        == [SPARK_ZIP, PY4J_ZIP]


def test_guard_keeps_zips_when_pyspark_differs():
    assert wd.zips_to_drop(ZIPS, {"pyspark": "4.0.1", "py4j": "0.10.9.9"}) == []


def test_guard_keeps_zips_without_installed_py4j():
    assert wd.zips_to_drop(ZIPS, {"pyspark": "4.1.2", "py4j": None}) == []


def test_guard_keeps_zips_with_unreadable_zip_version():
    zips = {**ZIPS, SPARK_ZIP: ("pyspark", None)}
    assert wd.zips_to_drop(zips, {"pyspark": None, "py4j": "0.10.9.9"}) == []


def test_guard_without_zips_drops_nothing():
    assert wd.zips_to_drop({}, {"pyspark": "4.1.2", "py4j": "0.10.9.9"}) == []


def _fake_layout(tmp_path, zip_version, installed_version, with_py4j=True):
    """A $SPARK_HOME-style lib dir with both zips and a spark-core jar
    without Python files, and a site dir with pyspark (and py4j) at the
    given versions; returns the path list a daemon would start with."""
    lib, site = tmp_path / "lib", tmp_path / "site"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/version.py", "__version__ = '0.10.9.9'\n")
    with zipfile.ZipFile(lib / "spark-core.jar", "w") as zf:
        zf.writestr("org/apache/spark/SparkContext.class", b"\xca\xfe")
    packages = {"pyspark": installed_version}
    if with_py4j:
        packages["py4j"] = "0.10.9.9"
    for name, version in packages.items():
        (site / name).mkdir(parents=True)
        (site / name / "__init__.py").write_text("")
        (site / name / "version.py").write_text(f'__version__ = "{version}"\n')
    return [str(tmp_path / "cwd"), str(lib / "pyspark.zip"),
            str(lib / "py4j-0.10.9.9-src.zip"), str(lib / "spark-core.jar"),
            str(site)]


def test_versions_read_from_zips_and_installed_packages(tmp_path):
    path = _fake_layout(tmp_path, "4.1.2", "4.0.0")
    assert wd.zip_versions(path) == {path[1]: ("pyspark", "4.1.2"),
                                     path[2]: ("py4j", "0.10.9.9")}
    assert wd.installed_versions([path[0], path[4]]) == {
        "pyspark": "4.0.0", "py4j": "0.10.9.9"}


def test_only_jars_without_python_files_count_as_python_free(tmp_path):
    path = _fake_layout(tmp_path, "4.1.2", "4.1.2")
    with zipfile.ZipFile(tmp_path / "assembly.jar", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
    assert wd.python_free_jars(path + [str(tmp_path / "assembly.jar")]) == [path[3]]


def test_settle_path_drops_zips_jar_and_their_importers(tmp_path, monkeypatch):
    path = _fake_layout(tmp_path, "4.1.2", "4.1.2")
    cached = path[1:4] + [os.path.join(path[3], "org")]
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict.fromkeys(cached))
    assert wd.settle_path() == path[1:4]
    assert sys.path == [path[0], path[4]]
    assert not set(cached) & set(sys.path_importer_cache)


def test_settle_path_leaves_path_alone_when_guard_fails(tmp_path, monkeypatch):
    for case, (installed, with_py4j) in enumerate(
            [("4.0.0", True), ("4.1.2", False)]):
        path = _fake_layout(tmp_path / str(case), "4.1.2", installed, with_py4j)
        monkeypatch.setattr(sys, "path", list(path))
        assert wd.settle_path() == []
        assert sys.path == path


def test_workers_import_installed_pyspark(spark):
    """The session's workers run under the engine daemon and, with the
    installed pyspark and py4j the same releases as $SPARK_HOME's zips,
    import them from site-packages, not from a zip, and hold no
    zipimporter that each task's invalidate_caches() would re-read."""
    def probe(batches):
        import zipimport

        import py4j
        import pyspark

        for _ in batches:
            yield pd.DataFrame({
                "pyspark": [pyspark.__file__], "py4j": [py4j.__file__],
                "main": [sys.modules["__main__"].__spec__.name],
                "zipimporters": [sum(isinstance(f, zipimport.zipimporter)
                                     for f in sys.path_importer_cache.values())]})

    rows = spark.range(2).repartition(2).mapInPandas(
        probe, "pyspark string, py4j string, main string, zipimporters long").collect()
    assert rows
    for r in rows:
        assert ".zip" not in r["pyspark"] and ".zip" not in r["py4j"], r
        assert r["main"] == "fermor_spark.worker_daemon"
        assert r["zipimporters"] == 0, r


_CWD_PROBE = r'''
import sys
sys.path.insert(0, sys.argv[1])
from fermor_spark import get_spark
from fermor_spark.pipeline.url import robots_filter

spark = get_spark(app_name="worker-path-probe", shuffle_partitions=2, cpus="1")
urls = spark.createDataFrame([("http://a.example/x",), ("http://a.example/private/y",)],
                             "url string")
robots = spark.createDataFrame([("a.example", "User-agent: *\nDisallow: /private/")],
                               "host string, robots_txt string")
got = sorted((r["url"], r["robots_ok"]) for r in robots_filter(urls, "url", robots).collect())
print("VERDICTS", got)
'''


def test_python_udfs_run_from_any_driver_cwd(tmp_path):
    """A driver that reaches the engine through sys.path.insert, from a
    cwd without it and with PYTHONPATH unset, runs an operator whose
    pandas UDF pickles engine functions by reference."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["FERMOR_DRIVER_MEMORY"] = "1g"
    r = subprocess.run([sys.executable, "-c", _CWD_PROBE, REPO], cwd=tmp_path,
                       env=env, capture_output=True, text=True, timeout=600)
    assert ("VERDICTS [('http://a.example/private/y', False), "
            "('http://a.example/x', True)]") in r.stdout, r.stderr[-3000:]
