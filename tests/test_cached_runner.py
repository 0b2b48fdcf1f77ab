"""LocalCachedRunner: read/write-through caching over a shared store, and
prepare() pushing file sources into the store for source-less machines
(here over parquet; every format is covered in test_file_sources.py).
Parity surface: reference cached_runner.py:27-164 and
local_arrow_runner.py:200-217."""

import json
import os
import shutil

import pytest

from krnel_graph_spark import LocalCachedRunner, SparkRunner


@pytest.fixture()
def roots(tmp_path):
    return str(tmp_path / "shared"), str(tmp_path / "cache")


def _mk_source(spark, tmp_path):
    p = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(i, f"n{i}", float(i) * 1.5) for i in range(50)],
        "k long, name string, score double",
    ).coalesce(1).write.parquet(p)
    return p


def test_write_through_and_cache_hit(spark, roots, tmp_path):
    shared_root, cache_root = roots
    src = _mk_source(spark, tmp_path)

    runner = LocalCachedRunner(
        spark=spark, store_path=shared_root, cache_path=cache_root
    )
    ds = runner.from_parquet(src)
    op = ds.template("{{n}}!", n=ds.col_text("name"))
    out1 = runner.to_pandas(op)

    # Written through: both the cache AND the shared store hold the result.
    for root in (cache_root, shared_root):
        store_dirs = [
            d for d, _, files in os.walk(root) if "done" in files
        ]
        assert store_dirs, f"no completed results under {root}"

    # Second materialization from a FRESH runner over an EMPTY cache must be
    # served by pulling from the shared store (and re-populate the cache).
    fresh_cache = str(tmp_path / "cache2")
    runner2 = LocalCachedRunner(
        spark=spark, store_path=shared_root, cache_path=fresh_cache
    )
    out2 = runner2.to_pandas(op)
    assert out1["value"].tolist() == out2["value"].tolist()
    assert any("done" in files for _, _, files in os.walk(fresh_cache))

    # Third run: shared store deleted — the local cache alone must serve it.
    shutil.rmtree(shared_root)
    runner3 = LocalCachedRunner(
        spark=spark, store_path=shared_root, cache_path=fresh_cache
    )
    out3 = runner3.to_pandas(op)
    assert out1["value"].tolist() == out3["value"].tolist()


def test_status_caching_only_completed(spark, roots, tmp_path):
    shared_root, cache_root = roots
    src = _mk_source(spark, tmp_path)
    runner = LocalCachedRunner(
        spark=spark, store_path=shared_root, cache_path=cache_root
    )
    ds = runner.from_parquet(src)
    op = ds.template("{{n}}", n=ds.col_text("name"))
    runner.to_pandas(op)

    local_status = runner.store.read_status(op.uuid)
    assert local_status is not None
    assert json.loads(local_status)["state"] == "completed"
    # The shared copy is authoritative and identical.
    assert runner.store.shared.read_status(op.uuid) == local_status


def test_prepare_pushes_sources_for_sourceless_machine(spark, roots, tmp_path):
    shared_root, _ = roots
    src = _mk_source(spark, tmp_path)

    owner = SparkRunner(spark=spark, store_path=shared_root)
    ds = owner.from_parquet(src)
    op = ds.mask_rows(ds.col_categorical("name").is_in({"n1", "n2", "n3"}))
    owner.prepare(op)

    # Simulate the remote worker: source file gone, same shared store.
    os.remove(os.path.join(src, os.listdir(src)[0]))
    shutil.rmtree(src)
    worker = SparkRunner(spark=spark, store_path=shared_root)
    out = worker.to_pandas(op)
    assert out["name"].tolist() == ["n1", "n2", "n3"]


def test_unprepared_missing_source_fails_clearly(spark, roots, tmp_path):
    shared_root, _ = roots
    src = _mk_source(spark, tmp_path)
    runner = SparkRunner(spark=spark, store_path=shared_root)
    ds = runner.from_parquet(src)
    shutil.rmtree(src)
    fresh = SparkRunner(spark=spark, store_path=shared_root)
    with pytest.raises(Exception, match="not prepared|does not exist|No such file"):
        fresh.to_pandas(ds)


def test_default_cache_is_per_store(spark, tmp_path):
    a = LocalCachedRunner(spark=spark, store_path=str(tmp_path / "storeA"))
    b = LocalCachedRunner(spark=spark, store_path=str(tmp_path / "storeB"))
    assert a.store.root != b.store.root
