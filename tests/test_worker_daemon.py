"""The engine's Python worker daemon (``runners/worker_daemon.py``):
zip archives are re-read only when they change on disk, zips added
later still import, and a local session's workers run under it from
any driver working directory. ``get_spark`` keeps the master Spark
resolved and turns the daemon on from that master, not from the
environment."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from krnel_graph_spark.runners import worker_daemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture()
def patched(monkeypatch):
    """Install the stat check with fresh signatures; count the archive
    re-reads it lets through."""
    rereads: list[str] = []
    original = worker_daemon._reread

    def counting(importer):
        rereads.append(importer.archive)
        original(importer)

    monkeypatch.setattr(worker_daemon, "_signatures", {})
    monkeypatch.setattr(worker_daemon, "_reread", counting)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon._invalidate_if_changed,
    )
    added: list[str] = []
    yield rereads, added
    for entry in added:
        sys.path.remove(entry)
        sys.path_importer_cache.pop(entry, None)


def _on_path(added, path: str) -> None:
    sys.path.append(path)
    added.append(path)


def test_archive_reread_only_when_changed(patched, tmp_path):
    rereads, added = patched
    tag = uuid.uuid4().hex[:8]
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {f"zd_a_{tag}": "VALUE = 1\n"})
    _on_path(added, archive)
    assert importlib.import_module(f"zd_a_{tag}").VALUE == 1

    importlib.invalidate_caches()  # first call records the signature
    assert rereads.count(archive) == 1
    importer = sys.path_importer_cache[archive]
    files = importer._files
    for _ in range(3):
        importlib.invalidate_caches()
    assert rereads.count(archive) == 1  # unchanged: not re-read
    assert importer._files is files

    _write_zip(archive, {f"zd_b_{tag}": "VALUE = 2\n", "pad": "#" * 100})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert rereads.count(archive) == 2  # rewritten: re-read
    assert importlib.import_module(f"zd_b_{tag}").VALUE == 2


def test_zip_added_later_is_importable(patched, tmp_path):
    _rereads, added = patched
    tag = uuid.uuid4().hex[:8]
    first = str(tmp_path / "first.zip")
    _write_zip(first, {f"zd_first_{tag}": "VALUE = 'first'\n"})
    _on_path(added, first)
    importlib.invalidate_caches()

    later = str(tmp_path / "later.zip")
    _write_zip(later, {f"zd_later_{tag}": "VALUE = 'later'\n"})
    _on_path(added, later)
    importlib.invalidate_caches()
    assert importlib.import_module(f"zd_later_{tag}").VALUE == "later"


def _worker_state(spark):
    """(daemon module, patched?) as seen inside a Python worker."""

    @F.udf("string")
    def probe(_):
        import sys as _sys
        import zipimport as _zipimport

        main = getattr(_sys.modules["__main__"].__spec__, "name", None)
        patched = _zipimport.zipimporter.invalidate_caches.__name__
        return f"{main}|{patched}"

    return spark.range(1).select(probe("id")).first()[0]


def test_local_session_workers_run_under_the_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "krnel_graph_spark.runners.worker_daemon"
    )
    assert _worker_state(spark) == (
        "krnel_graph_spark.runners.worker_daemon|_invalidate_if_changed"
    )


def test_add_py_file_after_workers_are_warm(spark, tmp_path):
    sc = spark.sparkContext

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    df = spark.range(0, 64, 1, 4)
    assert df.select(plus_one("id").alias("x")).agg(F.sum("x")).first()[0] == 2080

    name = f"zd_addpy_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "def scale(s):\n    return s * 3\n"})
    sc.addPyFile(archive)

    @F.pandas_udf("long")
    def scaled(s: pd.Series) -> pd.Series:
        return importlib.import_module(name).scale(s)

    assert df.select(scaled("id").alias("x")).agg(F.sum("x")).first()[0] == 3 * 2016


def _run_from(tmp_path, body: str, **env_vars: str | None) -> str:
    """Run ``body`` after ``get_spark()`` in a fresh process whose working
    directory is outside the repo; return its stdout. An ``env_vars``
    value of None unsets that variable."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from krnel_graph_spark import get_spark

        spark = get_spark("daemon-cwd-test")
        """
    ) + textwrap.dedent(body) + "spark.stop()\n"
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_MASTER", "MASTER", "PYSPARK_SUBMIT_ARGS")
    }
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    env.update(env_vars)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env={k: v for k, v in env.items() if v is not None},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def test_get_spark_from_another_working_directory(tmp_path):
    """Workers import the daemon from the package root, not from the
    driver's working directory (``python -m`` puts the cwd on the
    path)."""
    stdout = _run_from(
        tmp_path,
        """
        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        total = spark.range(0, 100, 1, 2).select(plus_one("id").alias("x"))
        print("TOTAL", total.agg(F.sum("x")).first()[0])
        """,
    )
    assert "TOTAL 5050" in stdout


def test_get_spark_keeps_a_value_set_on_the_running_session(spark):
    """The shuffle-partition default is applied only by the call that
    creates the context; a later call keeps what was set since."""
    from krnel_graph_spark import get_spark

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        get_spark().conf.set(key, "8")
        assert get_spark().conf.get(key) == "8"
    finally:
        spark.conf.set(key, before)


_SESSION = """
import json
sc = spark.sparkContext
conf = sc.getConf()
print("SESSION", json.dumps({
    "master": sc.master,
    "parallelism": sc.defaultParallelism,
    "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    "daemon": conf.get("spark.python.daemon.module"),
    "pythonpath": conf.get("spark.executorEnv.PYTHONPATH"),
}))
"""


@pytest.mark.parametrize(
    "env_vars, master, shuffle_partitions",
    [
        # pyspark ignores SPARK_MASTER: the session is local, and the
        # engine's local defaults follow from that.
        ({"SPARK_MASTER": "spark://nowhere:7077"}, "local[2]", None),
        # A master and a conf the user gave Spark are kept as given.
        (
            {
                "PYSPARK_SUBMIT_ARGS": "--master local[2] --conf "
                "spark.sql.shuffle.partitions=5 pyspark-shell",
                "SPARK_GRAFT_CPUS": None,
            },
            "local[2]",
            5,
        ),
    ],
    ids=["spark_master_env", "submit_args"],
)
def test_session_follows_the_master_spark_resolved(
    tmp_path, env_vars, master, shuffle_partitions
):
    stdout = _run_from(tmp_path, _SESSION, **env_vars)
    line = next(l for l in stdout.splitlines() if l.startswith("SESSION "))
    session = json.loads(line.split(" ", 1)[1])
    assert session["master"] == master
    assert session["shuffle_partitions"] == (
        shuffle_partitions or max(32, session["parallelism"])
    )
    assert session["daemon"] == "krnel_graph_spark.runners.worker_daemon"
    assert session["pythonpath"] == REPO_ROOT
