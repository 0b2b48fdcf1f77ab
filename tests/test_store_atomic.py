"""Every write into the store commits by one rule
(``ResultStore.staged``): sidecars (json, pickle, status), parquet
results from either writer and the cache's copies are built under a
temporary name and renamed into place. A write that fails part-way
leaves the previous entry whole, or no entry, and no temporary file
behind."""

from __future__ import annotations

import builtins
import os
import pickle
import shutil

import pytest

from krnel_graph_spark import LocalCachedRunner, SparkRunner
from krnel_graph_spark.plans.status import OpState
from krnel_graph_spark.runners import cached_runner
from krnel_graph_spark.runners import spark_runner
from krnel_graph_spark.runners import store as store_module
from krnel_graph_spark.runners.plan import ROW_ID, ArtifactPlan
from krnel_graph_spark.runners.store import ResultStore


def _listing(store: ResultStore, uuid: str) -> list[str]:
    return sorted(os.listdir(store.op_dir(uuid)))


def test_failed_pickle_keeps_the_previous_object(tmp_path):
    store = ResultStore(str(tmp_path / "store"))
    uuid = "Op_abc"
    store.write_pickle(uuid, {"model": [1, 2, 3]})
    with pytest.raises((pickle.PicklingError, AttributeError)):
        store.write_pickle(uuid, {"model": lambda: 0})
    assert store.read_pickle(uuid) == {"model": [1, 2, 3]}
    assert _listing(store, uuid) == [ResultStore.PICKLE]


def test_failed_json_keeps_the_previous_payload(tmp_path):
    store = ResultStore(str(tmp_path / "store"))
    uuid = "Op_abc"
    store.write_json(uuid, {"auc": 0.5})
    with pytest.raises(TypeError):
        store.write_json(uuid, {"auc": object()})
    assert store.read_json(uuid) == {"auc": 0.5}
    assert _listing(store, uuid) == [ResultStore.JSON]


class _TornFile:
    """Writes half of what it is given, then fails like a full disk."""

    def __init__(self, f):
        self.f = f

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.f.close()

    def write(self, data):
        self.f.write(bytes(data)[: len(data) // 2])
        raise OSError(28, "No space left on device")


def test_status_write_failing_mid_write_keeps_status_readable(
    runner, monkeypatch
):
    ds = runner.from_inline_dataset({"n": [f"n{i}" for i in range(5)]})
    op = ds.template("{{n}}.", n=ds.col_text("n"))
    runner.to_pandas(op)
    before = runner.status(op)
    assert before.state == OpState.COMPLETED
    listing = _listing(runner.store, op.uuid)

    def torn_open(path, mode="r", *args, **kwargs):
        f = builtins.open(path, mode, *args, **kwargs)
        return f if "r" in mode else _TornFile(f)

    monkeypatch.setattr(store_module, "open", torn_open, raising=False)
    before.state = OpState.RUNNING
    with pytest.raises(OSError):
        runner.store.write_status(op.uuid, before.to_json())
    monkeypatch.undo()

    after = runner.status(op)
    assert after.state == OpState.COMPLETED
    assert after.uuid == op.uuid
    assert _listing(runner.store, op.uuid) == listing


def test_failed_cache_copy_keeps_the_previous_tree(tmp_path, monkeypatch):
    """The cache's tree copy stages through the same rule: a copy that
    fails part-way leaves the old tree and no staged directory."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    dst.mkdir()
    (src / "part-00000.parquet").write_bytes(b"new")
    (dst / "part-00000.parquet").write_bytes(b"old")

    def torn_copytree(a, b):
        os.makedirs(b)
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(cached_runner.shutil, "copytree", torn_copytree)
    with pytest.raises(OSError):
        cached_runner._atomic_copy_tree(str(src), str(dst))
    assert sorted(os.listdir(tmp_path)) == ["dst", "src"]
    assert (dst / "part-00000.parquet").read_bytes() == b"old"


def _template(runner):
    ds = runner.from_inline_dataset({"n": [f"n{i}" for i in range(8)]})
    return ds.template("<{{n}}>", n=ds.col_text("n"))


def _fail_on_one_row(monkeypatch):
    """Make the stored frame's ``__row_id`` a Python UDF that raises on
    one row, so the write fails inside a Spark task."""
    from pyspark.sql import functions as F

    stored_frame = spark_runner._stored_frame

    @F.udf("long")
    def boom(row_id):
        if row_id == 3:
            raise ValueError("boom on one partition")
        return row_id

    def failing(plan):
        df, facts = stored_frame(plan)
        return df.withColumn(ROW_ID, boom(ROW_ID)), facts

    monkeypatch.setattr(spark_runner, "_stored_frame", failing)


def _assert_no_entry(runner, op):
    """Only the failed status is left: no parquet directory, no staged
    name and no ``done``."""
    assert _listing(runner.store, op.uuid) == [ResultStore.STATUS]
    assert runner.status(op).state == OpState.FAILED
    assert not runner.store.is_done(op.uuid)


def _assert_rerun_loads(runner, op, lazy_runner):
    fresh = SparkRunner(spark=runner.spark, store_path=runner.store.root)
    assert fresh.to_pandas(op).equals(lazy_runner.to_pandas(op))
    assert _listing(fresh.store, op.uuid) == sorted(
        [ResultStore.DONE, ResultStore.PARQUET, ResultStore.STATUS]
    )


def test_spark_writer_failing_mid_job_leaves_no_entry(
    runner, lazy_runner, monkeypatch
):
    spark = runner.spark
    op = _template(runner)
    _fail_on_one_row(monkeypatch)
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")  # Spark's writer, not the one-file path
    try:
        with pytest.raises(Exception, match="boom on one partition"):
            runner.to_pandas(op)
    finally:
        spark.conf.set(threshold, old)
    monkeypatch.undo()
    _assert_no_entry(runner, op)
    _assert_rerun_loads(runner, op, lazy_runner)


def test_one_file_write_failing_after_its_part_file_leaves_no_entry(
    runner, lazy_runner, monkeypatch
):
    op = _template(runner)
    write_one_file = ResultStore._write_one_file
    written = []

    def torn(df, table, path):
        write_one_file(df, table, path)
        written.append(path)
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(ResultStore, "_write_one_file", staticmethod(torn))
    with pytest.raises(OSError):
        runner.to_pandas(op)
    monkeypatch.undo()
    assert len(written) == 1 and not os.path.exists(written[0])
    _assert_no_entry(runner, op)
    _assert_rerun_loads(runner, op, lazy_runner)


def test_stale_result_from_a_crashed_write_is_replaced(runner, lazy_runner):
    """A crash between the data and ``done`` can leave a result directory
    with extra part files. The recompute replaces it; merged part files
    would read back every row twice."""
    op = _template(runner)
    runner.to_pandas(op)
    path = runner.store.parquet_path(op.uuid)
    part = next(name for name in os.listdir(path) if name.startswith("part-"))
    stale = "part-00009-stale.parquet"
    shutil.copy(os.path.join(path, part), os.path.join(path, stale))
    os.remove(runner.store._side_path(op.uuid, ResultStore.DONE))

    _assert_rerun_loads(runner, op, lazy_runner)
    assert stale not in os.listdir(path)


def test_cached_json_result_is_pushed_once_at_mark_done(
    spark, tmp_path, monkeypatch
):
    """``mark_done`` is the one place an entry's data reaches the shared
    store: a json result is not there before it, and is copied once."""
    runner = LocalCachedRunner(
        spark=spark,
        store_path=str(tmp_path / "shared"),
        cache_path=str(tmp_path / "cache"),
    )
    op = _template(runner)
    store = runner.store
    shared_json = store.shared._side_path(op.uuid, ResultStore.JSON)
    pushed = []
    copy_file = cached_runner._atomic_copy_file

    def recording_copy(src, dst):
        pushed.append((dst, os.path.getsize(src), store.shared.is_done(op.uuid)))
        copy_file(src, dst)

    mark_done = store.mark_done

    def checked_mark_done(uuid):
        assert not os.path.exists(shared_json)
        mark_done(uuid)

    monkeypatch.setattr(cached_runner, "_atomic_copy_file", recording_copy)
    monkeypatch.setattr(store, "mark_done", checked_mark_done)
    runner._persist(op, ArtifactPlan(payload={"auc": 0.75}, kind="json"))

    assert pushed == [(shared_json, os.path.getsize(shared_json), False)]
    assert store.shared.read_json(op.uuid) == {"auc": 0.75}
    assert store.shared.is_done(op.uuid)
