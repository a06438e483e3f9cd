"""The python-worker daemon (``open_parse_spark.spark.daemon``): workers
import pyspark from its installed package, not from Spark's archives, and
the archive filter keeps the path whenever that would change what imports."""

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = os.path.join(REPO, "open_parse_spark", "spark", "daemon.py")


def _installed_root(pkg: str) -> str:
    mod = __import__(pkg)
    return os.path.dirname(os.path.realpath(mod.__file__))


@pytest.mark.slow
def test_workers_import_installed_pyspark(tmp_path):
    """A local session started with the checkout on PYTHONPATH (cwd
    elsewhere) runs its workers with no zipimporter cached, no ``org``
    module from the spark-core jar, and pyspark from the driver's
    installed package."""
    script = (
        "import json, sys\n"
        "from open_parse_spark.spark.session import get_spark\n"
        "spark = get_spark(app_name='daemon-probe', master='local[2]')\n"
        "def probe(batches):\n"
        "    import sys, zipimport, pandas as pd, pyspark\n"
        "    zi = [k for k, v in sys.path_importer_cache.items()\n"
        "          if isinstance(v, zipimport.zipimporter)]\n"
        "    for _ in batches:\n"
        "        yield pd.DataFrame({'s': [json.dumps({'zi': zi, 'org': 'org' in sys.modules,\n"
        "                                              'pyspark': pyspark.__file__})]})\n"
        "rows = spark.range(2, numPartitions=2).mapInPandas(probe, 's string').collect()\n"
        "print(json.dumps({'conf': spark.conf.get('spark.python.daemon.module', None),\n"
        "                  'workers': [json.loads(r.s) for r in rows]}))\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO, PYSPARK_PYTHON=sys.executable, SPARK_DRIVER_MEM="512m")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["conf"] == "open_parse_spark.spark.daemon"
    assert len(got["workers"]) == 2
    installed = _installed_root("pyspark")
    for w in got["workers"]:
        assert w["zi"] == [] and not w["org"], w
        assert os.path.realpath(w["pyspark"]).startswith(installed + os.sep), w


def _archive(path, members: dict) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


def _version_py(pkg: str) -> bytes:
    with open(os.path.join(_installed_root(pkg), "version.py"), "rb") as fh:
        return fh.read()


def _filter_in_subprocess(path: list) -> dict:
    """Run ``drop_spark_archives`` in a fresh ``python -S`` whose ``sys.path``
    is ``path`` plus the stdlib, after a ``copy`` import has probed ``org``."""
    script = (
        "import importlib.util, json, sys, zipimport\n"
        f"sys.path[:] = {path!r} + [p for p in sys.path if 'site-packages' not in p]\n"
        "sys.modules.pop('copy', None)\n"
        "import copy\n"
        f"spec = importlib.util.spec_from_file_location('opsd', {DAEMON!r})\n"
        "mod = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(mod)\n"
        "before = list(sys.path)\n"
        "org = 'org' in sys.modules\n"
        "mod.drop_spark_archives()\n"
        "zi = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]\n"
        "print(json.dumps({'before': before, 'after': sys.path, 'org_before': org,\n"
        "                  'org_after': 'org' in sys.modules, 'zi': zi}))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-S", "-c", script], capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout)


def _spark_archives(tmp_path, pyspark_version: bytes) -> list:
    return [
        _archive(tmp_path / "lib" / "pyspark.zip", {
            "pyspark/__init__.py": "", "pyspark/version.py": pyspark_version,
        }),
        _archive(tmp_path / "lib" / "py4j-0.10.9.9-src.zip", {
            "py4j/__init__.py": "", "py4j/version.py": _version_py("py4j"),
        }),
        _archive(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar", {
            "org/": "", "org/apache/Spark.class": "",
        }),
    ]


def test_archive_filter_drops_archives_of_installed_version(tmp_path):
    site = os.path.dirname(_installed_root("pyspark"))
    archives = _spark_archives(tmp_path, _version_py("pyspark"))
    got = _filter_in_subprocess(archives + [site])
    assert not set(archives) & set(got["after"])
    assert got["after"] == [p for p in got["before"] if p not in archives]
    assert got["org_before"] and not got["org_after"]
    assert got["zi"] == []


@pytest.mark.parametrize("case", ["only_in_archive", "other_version"])
def test_archive_filter_keeps_path(tmp_path, case):
    """pyspark found only inside the archive, or installed at a version other
    than the archive's: the path is left exactly as it was."""
    site = os.path.dirname(_installed_root("pyspark"))
    if case == "only_in_archive":
        path = _spark_archives(tmp_path, _version_py("pyspark"))
    else:
        path = _spark_archives(tmp_path, b"__version__: str = '0.0.0'\n") + [site]
    got = _filter_in_subprocess(path)
    assert got["after"] == got["before"]
    assert got["org_after"] == got["org_before"]


def test_daemon_conf_needs_package_on_launch_path(tmp_path, monkeypatch):
    """The daemon module is set only when the JVM's daemon, launched from the
    driver's cwd with its PYTHONPATH, can import this package: on a local
    master, with the checkout as cwd or on PYTHONPATH."""
    from open_parse_spark.spark.session import _daemon_can_import_package as can

    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not can("local[2]")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), REPO]))
    assert can("local[2]") and can("local")
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    monkeypatch.chdir(REPO)
    assert can("local[*]")
    assert not can("spark://localhost:7077") and not can("local-cluster[2,1,1024]")
