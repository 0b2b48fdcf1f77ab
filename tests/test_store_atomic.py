"""Store sidecars (json, pickle, status) and the cache's copies are
staged under a temporary name and renamed into place: a write that
fails part-way leaves the previous file whole and no temporary file
behind."""

from __future__ import annotations

import builtins
import os
import pickle

import pytest

from krnel_graph_spark.plans.status import OpState
from krnel_graph_spark.runners import store as store_module
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
    from krnel_graph_spark.runners import cached_runner

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
