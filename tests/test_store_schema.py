"""Store results carry their schema (``result.parquet/_schema.json``):
a re-read is given the schema instead of running a schema-inference
job, reads exactly what inference would, and entries written without
the file still load."""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path

import pytest
from conftest import jobs_during
from pyspark.sql.types import VariantVal

import krnel_graph_spark
from krnel_graph_spark import LocalCachedRunner, SparkRunner
from krnel_graph_spark.runners.spark_runner import (
    _read_store_parquet,
    _write_store_parquet,
)
from krnel_graph_spark.runners.store import ResultStore


def _rows(df):
    def norm(v):
        if isinstance(v, VariantVal):  # no __eq__
            return (bytes(v.value), bytes(v.metadata))
        return v

    return [tuple(norm(v) for v in row) for row in df.orderBy("id").collect()]


def _schema_files(root) -> list[str]:
    return [
        d for d, _, files in os.walk(root) if ResultStore.SCHEMA in files
    ]


_COLUMNS = {
    "array_float": "array(cast(1.5 as float), cast(null as float))",
    "double": "cast(id as double) / 3",
    "boolean": "id % 2 = 0",
    "string": "concat('s', cast(id as string))",
    "date": "date_add(date'2024-02-28', cast(id as int))",
    "timestamp": "timestamp'2024-01-02 03:04:05.123456' + make_interval(0, 0, 0, 0, cast(id as int))",
    "timestamp_ntz": "timestamp_ntz'2024-01-02 03:04:05'",
    "decimal": "cast(id as decimal(20, 4)) / 7",
    "binary": "cast(concat('b', cast(id as string)) as binary)",
    "struct": "named_struct('a', id, 'b', array(named_struct('c', 'x')))",
    "map": "map('k', cast(id as double), 'n', cast(null as double))",
    "variant": "parse_json(concat('{\"a\": [', cast(id as string), ', 2.5]}'))",
    "non_nullable": "id + 1",
}


@pytest.mark.parametrize("kind", sorted(_COLUMNS))
def test_schema_given_reread_equals_inferred(spark, tmp_path, kind):
    df = spark.range(4).selectExpr("id", f"{_COLUMNS[kind]} AS c")
    if kind == "non_nullable":
        assert not df.schema["c"].nullable
    path = str(tmp_path / "result.parquet")
    _write_store_parquet(df, path)
    assert os.path.isfile(os.path.join(path, ResultStore.SCHEMA))

    given = _read_store_parquet(spark, path)
    inferred = spark.read.parquet(path)
    assert given.schema == inferred.schema
    assert _rows(given) == _rows(inferred)
    assert jobs_during(spark, lambda: _read_store_parquet(spark, path)) == 0


def test_persisted_result_reloads_without_a_job(spark, tmp_path):
    store = str(tmp_path / "store")
    runner = SparkRunner(spark=spark, store_path=store)
    ds = runner.from_inline_dataset({"n": [f"n{i}" for i in range(20)]})
    op = ds.template("{{n}}!", n=ds.col_text("n"))
    first = runner.to_pandas(op)
    assert _schema_files(store)

    fresh = SparkRunner(spark=spark, store_path=store)
    assert jobs_during(spark, lambda: fresh.plan(op)) == 0
    assert fresh.to_pandas(op).equals(first)


def test_entry_without_schema_file_still_loads(spark, tmp_path):
    """Entries stored before schemas were written fall back to
    inference."""
    store = str(tmp_path / "store")
    runner = SparkRunner(spark=spark, store_path=store)
    ds = runner.from_inline_dataset({"n": [f"n{i}" for i in range(20)]})
    op = ds.template("{{n}}?", n=ds.col_text("n"))
    first = runner.to_pandas(op)
    for d in _schema_files(store):
        os.remove(os.path.join(d, ResultStore.SCHEMA))

    fresh = SparkRunner(spark=spark, store_path=store)
    assert jobs_during(spark, lambda: fresh.plan(op)) >= 1  # inference
    assert fresh.to_pandas(op).equals(first)
    # the plan facts ride in the parquet footer too
    computed, hit = runner.column_plan(op), fresh.column_plan(op)
    assert (hit.aligned_with, hit.dense) == (computed.aligned_with, computed.dense)


def test_cached_rehydrate_carries_the_schema(spark, tmp_path):
    shared = str(tmp_path / "shared")
    writer = LocalCachedRunner(
        spark=spark, store_path=shared, cache_path=str(tmp_path / "cache")
    )
    ds = writer.from_inline_dataset({"n": [f"n{i}" for i in range(20)]})
    op = ds.template("<{{n}}>", n=ds.col_text("n"))
    first = writer.to_pandas(op)
    assert _schema_files(shared)  # pushed with the data

    fresh_cache = str(tmp_path / "cache2")
    reader = LocalCachedRunner(
        spark=spark, store_path=shared, cache_path=fresh_cache
    )
    assert jobs_during(spark, lambda: reader.plan(op)) == 0
    assert _schema_files(fresh_cache)  # pulled with the data
    assert reader.to_pandas(op).equals(first)


def test_prepared_source_loads_from_store_without_inference(spark, tmp_path):
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(i, f"n{i}") for i in range(30)], "k long, name string"
    ).coalesce(1).write.parquet(src)
    store = str(tmp_path / "store")
    owner = SparkRunner(spark=spark, store_path=store)
    ds = owner.from_parquet(src)
    op = ds.mask_rows(ds.col_categorical("name").is_in({"n1", "n7"}))
    owner.prepare(op)
    assert _schema_files(store)

    shutil.rmtree(src)
    worker = SparkRunner(spark=spark, store_path=store)
    assert jobs_during(spark, lambda: worker.plan(ds)) == 0
    assert worker.to_pandas(op)["name"].tolist() == ["n1", "n7"]


_HELPER_CALL = re.compile(r"_(read|write)_store_parquet\(")


def test_store_parquet_only_through_the_helpers():
    """Store paths come from ``parquet_path``; outside the store modules
    every use of one goes straight into the read or write helper, so no
    module reads a store result with ``spark.read.parquet`` itself."""
    root = Path(krnel_graph_spark.__file__).parent
    store_modules = {root / "runners" / "store.py", root / "runners" / "cached_runner.py"}
    offenders = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path not in store_modules
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "parquet_path(" in line and not _HELPER_CALL.search(line)
    ]
    assert offenders == []


def test_entry_without_plan_facts_still_loads(spark, tmp_path):
    """Entries stored before plan facts were recorded load with their
    own uuid as the row domain and as not dense, and still combine
    correctly with their dataset (positionally)."""
    from krnel_graph_spark.runners.plan import ROW_ID

    store = str(tmp_path / "store")
    runner = SparkRunner(spark=spark, store_path=store)
    ds = runner.from_inline_dataset({"n": [f"n{i}" for i in range(20)]})
    tmpl = ds.template("{{n}}!", n=ds.col_text("n"))
    masked = ds.mask_rows(tmpl.is_in({"n1!", "n7!"}))
    assert runner.column_plan(tmpl).aligned_with == ds.uuid
    path = runner.store.parquet_path(tmpl.uuid)
    stored = spark.read.parquet(path)
    rows = stored.collect()
    legacy = spark.createDataFrame(rows, stored.schema).withMetadata(ROW_ID, {})
    _write_store_parquet(legacy, path)

    fresh = SparkRunner(spark=spark, store_path=store)
    plan = fresh.column_plan(tmpl)
    assert (plan.aligned_with, plan.dense, plan.is_json) == (tmpl.uuid, False, False)
    assert fresh.to_pandas(masked)["n"].tolist() == ["n1", "n7"]
