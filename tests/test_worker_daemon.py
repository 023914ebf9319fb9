"""The Python worker daemon (`worker_daemon`), the package zip and the
Unix domain sockets the JVM reaches its Python workers through.

Unit tests run the archive filter on fabricated archives; integration
tests ask a Python worker task of a `get_spark` session what it
imported, which archive importers it caches and how it is connected.
"""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from py_pubsub_pipeline_spark import session
from py_pubsub_pipeline_spark.session import get_spark
from py_pubsub_pipeline_spark.worker_daemon import redundant, strip_redundant_archives

REPO = Path(__file__).resolve().parent.parent


def _zip(path: Path, files: dict[str, str]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


@pytest.fixture
def site(tmp_path) -> str:
    """A directory with `pyspark` installed at version 4.1.2."""
    pkg = tmp_path / "site" / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text("__version__: str = '4.1.2'\n")
    return str(tmp_path / "site")


def test_archive_matching_installed_version_is_dropped(site, tmp_path):
    same = _zip(tmp_path / "lib" / "pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.1.2'\n",
    })
    assert redundant(same, [site])


def test_archive_with_another_version_is_kept(site, tmp_path):
    other = _zip(tmp_path / "lib" / "pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.0.0'\n",
    })
    assert not redundant(other, [site])
    # and with no installed copy to compare against
    assert not redundant(other, [])


def test_jar_without_python_is_dropped_and_jar_with_python_kept(site, tmp_path):
    jar = _zip(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar", {
        "META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n",
        "org/apache/spark/SparkContext.class": "\xca\xfe",
    })
    assert redundant(jar, [site])
    py_jar = _zip(tmp_path / "jars" / "with-python.jar", {
        "META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n", "helpers/udfs.py": "X = 1\n",
    })
    assert not redundant(py_jar, [site])


def test_addpyfile_zip_is_kept(site, tmp_path):
    shipped = _zip(tmp_path / "files" / "py_pubsub_pipeline_spark_0123.zip", {
        "py_pubsub_pipeline_spark/__init__.py": "__version__ = '0.1.0'\n",
        "py_pubsub_pipeline_spark/pipeline.py": "",
    })
    assert not redundant(shipped, [site])
    module_zip = _zip(tmp_path / "files" / "single.zip", {"single.py": "X = 1\n"})
    assert not redundant(module_zip, [site])


def test_strip_removes_dropped_entries_and_their_importers(site, tmp_path):
    same = _zip(tmp_path / "lib" / "pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.1.2'\n",
    })
    jar = _zip(tmp_path / "jars" / "spark-core.jar", {"org/A.class": "\xca\xfe"})
    shipped = _zip(tmp_path / "files" / "shipped.zip", {"shipped_mod/__init__.py": ""})
    path = [site, same, jar, shipped]
    cache = {
        same: zipimport.zipimporter(same),
        os.path.join(same, "pyspark"): zipimport.zipimporter(os.path.join(same, "pyspark")),
        jar: zipimport.zipimporter(jar),
        shipped: zipimport.zipimporter(shipped),
    }
    assert strip_redundant_archives(path, cache) == [same, jar]
    assert path == [site, shipped]
    assert list(cache) == [shipped]


def test_socket_dir_is_private_under_any_umask_and_fits_af_unix(tmp_path, monkeypatch):
    deep = tmp_path.joinpath(*["deep-temporary-directory"] * 3)
    deep.mkdir(parents=True)
    monkeypatch.setattr(session.tempfile, "tempdir", str(deep))
    old = os.umask(0o777)
    try:
        path = session._socket_dir()
    finally:
        os.umask(old)
    try:
        st = os.stat(path)
        assert stat.S_IMODE(st.st_mode) == 0o700 and st.st_uid == os.getuid()
        # a socket path in the deep directory would not fit
        assert os.path.dirname(path) == "/tmp"
        assert len(os.path.join(path, ".00000000-0000-0000-0000-000000000000.sock")) <= 107
    finally:
        os.rmdir(path)


# ---------------------------------------------------- inside a session


def test_get_spark_names_one_private_socket_dir(spark, monkeypatch):
    name = "spark.python.unix.domain.socket.dir"
    path = spark.sparkContext.getConf().get(name)
    monkeypatch.setattr(session, "_socket_dir", lambda: pytest.fail("made a second directory"))
    again = get_spark("tests")
    assert again.sparkContext.getConf().get(name) == path
    st = os.stat(path)
    assert stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid()
    assert stat.S_IMODE(st.st_mode) == 0o700


def test_workers_connect_over_unix_sockets(spark):
    def probe(batches):
        import os

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")]})

    # Spark writes "True"; its daemon and workers compare it lowercased.
    uds = spark.range(1, numPartitions=1).mapInPandas(probe, "uds string").first().uds
    assert uds.lower() == "true"


def test_worker_imports_pyspark_from_a_directory(spark):
    def probe(batches):
        import json
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        archives = sorted({
            imp.archive for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        })
        report = {"pyspark": pyspark.__file__, "archives": archives}
        yield pa.RecordBatch.from_pydict({"r": [json.dumps(report)]})

    report = json.loads(spark.range(1, numPartitions=1).mapInArrow(probe, "r string").first().r)
    # a file on disk, not a member of an archive
    assert os.path.isfile(report["pyspark"]), report
    names = [os.path.basename(a) for a in report["archives"]]
    assert "pyspark.zip" not in names, names
    assert not any(n.endswith(".jar") for n in names), names
    assert not any(n.startswith("py4j") for n in names), names


def test_task_imports_from_addpyfile_zip(spark, tmp_path):
    mod = "shipped_probe_7f3c"
    spark.sparkContext.addPyFile(_zip(tmp_path / f"{mod}.zip", {f"{mod}.py": "ANSWER = 42\n"}))

    def use(batches):
        import importlib

        import pyarrow as pa

        m = importlib.import_module(mod)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"answer": [m.ANSWER], "file": [m.__file__]})

    row = spark.range(1, numPartitions=1).mapInArrow(use, "answer long, file string").first()
    assert row.answer == 42
    assert f"{mod}.zip" in row.file


# ------------------------------------------ a fresh session, elsewhere

_FRESH_SESSION = textwrap.dedent('''
    import json, os, sys, tempfile, zipfile
    sys.path.insert(0, REPO)
    # An earlier checkout's zip at the path the package once reused
    # for any process with this pid.
    stale = os.path.join(tempfile.gettempdir(), f"py_pubsub_pipeline_spark_{os.getpid()}.zip")
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("py_pubsub_pipeline_spark/__init__.py", "__version__ = 'stale'\\n")
        z.writestr("py_pubsub_pipeline_spark/pipeline.py", "raise ImportError('stale')\\n")
    import py_pubsub_pipeline_spark as pkg
    from py_pubsub_pipeline_spark.session import _package_zip, ensure_package_on_workers, get_spark
    spark = get_spark("fresh")
    ensure_package_on_workers(spark)
    acc = spark.sparkContext.accumulator(0)
    spark.sparkContext.parallelize(range(10), 2).foreach(lambda x: acc.add(x))

    def task(batches):
        import pyarrow as pa, pyspark, py_pubsub_pipeline_spark as p
        from py_pubsub_pipeline_spark.pipeline import byte_encode_json
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"r": [json.dumps({
            "version": p.__version__, "file": p.__file__,
            "encoded": byte_encode_json({"a": 1}).decode(), "pyspark": pyspark.__file__})]})

    report = json.loads(spark.range(1, numPartitions=1).mapInArrow(task, "r string").first().r)
    socket_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    report.update(driver_version=pkg.__version__, shipped=os.path.basename(_package_zip()),
                  accumulated=acc.value, socket_dir=socket_dir)
    spark.stop()
    print("REPORT " + json.dumps(report))
''')


@pytest.fixture(scope="module")
def fresh_session(tmp_path_factory) -> dict:
    """Report of a `get_spark` session started in another process,
    from a working directory outside the repository, with Python's and
    the JVM's temporary directory too deep for an AF_UNIX socket path."""
    cwd = tmp_path_factory.mktemp("elsewhere")
    deep = cwd.joinpath(*["deep-temporary-directory"] * 3)
    deep.mkdir(parents=True)
    env = {**os.environ, "TMPDIR": str(deep), "SPARK_GRAFT_CPUS": "1", "SPARK_DRIVER_MEM": "1g"}
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={deep} {env.get('JAVA_TOOL_OPTIONS', '')}".strip()
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p and Path(p).resolve() != REPO
    )
    out = subprocess.run(
        [sys.executable, "-c", f"REPO = {str(REPO)!r}\n" + _FRESH_SESSION],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("REPORT ")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    return {**json.loads(lines[-1][len("REPORT "):]), "deep_tmp": str(deep)}


def test_daemon_module_resolves_outside_repo_root(fresh_session):
    assert fresh_session["encoded"] == '{"a": 1}'
    assert os.path.isfile(fresh_session["pyspark"])


def test_workers_import_current_package_not_stale_pid_zip(fresh_session):
    assert fresh_session["version"] == fresh_session["driver_version"]
    # imported from the zip the session shipped, named by its sources
    assert f"{fresh_session['shipped']}/py_pubsub_pipeline_spark/" in fresh_session["file"]


def test_accumulator_updates_reach_driver_from_deep_temp_dir(fresh_session):
    assert fresh_session["accumulated"] == 45
    # the sockets went where their paths fit, not into the deep directory
    assert not fresh_session["socket_dir"].startswith(fresh_session["deep_tmp"])
    # and the directory went with the process
    assert not os.path.exists(fresh_session["socket_dir"])
