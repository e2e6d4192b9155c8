"""The session's fixed settings. Python-worker daemon (pydaemon): workers
import the installed pyspark, not Spark's zip archives, and every other case
keeps Spark's ``sys.path``. DataFrame debugging off: building a column costs
no call-site capture round trips."""

import os
import sys
import zipfile

import py4j.clientserver
import pyspark
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from autoextraction_spark import pydaemon


def test_python_tasks_import_no_spark_archive(spark):
    if ".zip" in pyspark.__file__:
        pytest.skip("the driver's own pyspark comes from an archive")

    def _task_view(_):
        import sys

        import pyspark

        archives = sorted(
            k for k, v in sys.path_importer_cache.items()
            if type(v).__name__ == "zipimporter"
            and ("pyspark.zip" in k or "py4j" in k or ".jar" in k)
        )
        yield archives, pyspark.__version__, pyspark.__file__

    views = spark.sparkContext.parallelize(range(4), 4).mapPartitions(_task_view).collect()
    assert len(views) == 4
    for archives, version, path in views:
        assert archives == []
        assert version == pyspark.__version__
        assert ".zip" not in path


def test_column_build_skips_call_site_capture(spark, monkeypatch):
    """With DataFrame debugging on, ``F.col`` makes 13 py4j round trips:
    10 of them capture and clear the Python call site."""
    F.col("x")
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command
    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection,
        "send_command",
        lambda self, command: sent.append(command) or send(self, command),
    )
    F.col("x")
    monkeypatch.undo()
    assert 0 < len(sent) <= 3
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_analysis_error_keeps_class_and_message(spark):
    """What debugging off keeps: the error class and the message naming the
    unresolved column."""
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select(F.col("no_such_column")).schema
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    assert "no_such_column" in str(err.value)


def _zip(path, files):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root, files):
    for name, text in files.items():
        p = os.path.join(root, name)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(text)
    return str(root)


def _release(pkg, version):
    return {f"{pkg}/__init__.py": "", f"{pkg}/version.py": f'__version__: str = "{version}"\n'}


@pytest.fixture
def layout(tmp_path):
    """A Spark home with its three archives, a package zip, a user zip and
    an installed pyspark 4.1.2 + py4j 0.10.9.9 in ``site``."""
    home = tmp_path / "spark-4.1.2"
    lib = home / "python" / "lib"
    d = {
        "home": str(home),
        "pyspark_zip": _zip(lib / "pyspark.zip", _release("pyspark", "4.1.2")),
        "py4j_zip": _zip(lib / "py4j-0.10.9.9-src.zip", _release("py4j", "0.10.9.9")),
        "jar": _zip(home / "jars" / "spark-core_2.13-4.1.2.jar", {"org/A.class": ""}),
        "pkg_zip": _zip(tmp_path / "dist" / "autoextraction_spark.zip",
                        {"autoextraction_spark/__init__.py": ""}),
        "user_zip": _zip(tmp_path / "userFiles" / "deps.zip", {"deps/__init__.py": ""}),
        "site": _tree(tmp_path / "site",
                      {**_release("pyspark", "4.1.2"), **_release("py4j", "0.10.9.9")}),
    }
    d["path"] = [str(tmp_path), d["pyspark_zip"], d["py4j_zip"], d["jar"], d["pkg_zip"],
                 d["user_zip"], d["site"]]
    return d


def test_drops_exactly_spark_archives_when_installed_release_matches(layout):
    got = pydaemon.archives_to_drop(layout["path"], layout["home"])
    assert got == [layout["pyspark_zip"], layout["py4j_zip"], layout["jar"]]


def test_spark_home_symlink_matches_resolved_entries(layout, tmp_path):
    link = tmp_path / "spark"
    os.symlink(layout["home"], link)
    path = [p.replace(layout["home"], str(link)) if p == layout["jar"] else p
            for p in layout["path"]]
    assert len(pydaemon.archives_to_drop(path, str(link))) == 3


def test_version_mismatch_keeps_archives(layout):
    _tree(layout["site"], _release("pyspark", "4.0.0"))
    assert pydaemon.archives_to_drop(layout["path"], layout["home"]) == []


def test_py4j_version_mismatch_keeps_archives(layout):
    _tree(layout["site"], _release("py4j", "0.10.9.7"))
    assert pydaemon.archives_to_drop(layout["path"], layout["home"]) == []


@pytest.mark.parametrize("pkg", ["pyspark", "py4j"])
def test_no_installed_package_keeps_archives(layout, pkg):
    os.remove(os.path.join(layout["site"], pkg, "__init__.py"))
    assert pydaemon.archives_to_drop(layout["path"], layout["home"]) == []


def test_no_spark_home_keeps_archives(layout):
    assert pydaemon.archives_to_drop(layout["path"], None) == []


def test_zip_shadowing_the_install_keeps_archives(layout):
    # a --py-files zip that ships its own pyspark ahead of the directory install
    shadow = _zip(os.path.join(os.path.dirname(layout["user_zip"]), "pyspark.zip"),
                  _release("pyspark", "4.1.2"))
    path = layout["path"][:-1] + [shadow, layout["site"]]
    assert pydaemon.archives_to_drop(path, layout["home"]) == []


def test_user_and_package_zips_are_never_spark_archives(layout):
    # same names as Spark's archives, outside $SPARK_HOME
    user = os.path.dirname(layout["user_zip"])
    lookalikes = [
        _zip(os.path.join(user, "pyspark.zip"), _release("pyspark", "4.1.2")),
        _zip(os.path.join(user, "py4j-0.10.9.9-src.zip"), _release("py4j", "0.10.9.9")),
        _zip(os.path.join(user, "udfs.jar"), {"x.py": ""}),
    ]
    path = layout["path"] + lookalikes
    got = pydaemon.archives_to_drop(path, layout["home"])
    assert layout["pkg_zip"] not in got and layout["user_zip"] not in got
    assert not set(lookalikes) & set(got)
    assert pydaemon.spark_archives(lookalikes, layout["home"]) == []


@pytest.mark.parametrize("installed", ["4.1.2", "4.0.0"])
def test_main_prunes_path_and_importer_cache_only_on_match(layout, monkeypatch, installed):
    _tree(layout["site"], _release("pyspark", installed))
    ran = []
    cache = {p: object() for p in layout["path"]}
    cache[layout["pyspark_zip"] + os.sep + "pyspark"] = object()
    monkeypatch.setattr(pydaemon.runpy, "run_module", lambda *a, **k: ran.append(a))
    monkeypatch.setattr(sys, "path", list(layout["path"]))
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    monkeypatch.setenv("SPARK_HOME", layout["home"])
    pydaemon.main()
    path, kept = list(sys.path), set(sys.path_importer_cache)
    monkeypatch.undo()
    assert ran == [("pyspark.daemon",)]
    if installed == "4.0.0":
        assert path == layout["path"] and kept == set(cache)
        return
    spark_own = {layout["pyspark_zip"], layout["py4j_zip"], layout["jar"]}
    assert path == [p for p in layout["path"] if p not in spark_own]
    assert kept == set(cache) - spark_own - {layout["pyspark_zip"] + os.sep + "pyspark"}
