"""Store results carry their schema (``result.parquet/_schema.json``):
a re-read is given the schema instead of running a schema-inference
job, reads exactly what inference would, and entries written without
the file still load. Small results are written as one Arrow file, the
rest by Spark's writer; ``TestSparkWriter`` runs the store tests again
through the latter. The entry format lives in ``runners/store.py``
alone; the source scans below keep it there."""

from __future__ import annotations

import ast
import os
import shutil
from pathlib import Path

import pytest
from conftest import jobs_during
from pyspark.sql.types import VariantVal

import krnel_graph_spark
from krnel_graph_spark import LocalCachedRunner, SparkRunner
from krnel_graph_spark.functions.partitioning import plan_size_bytes
from krnel_graph_spark.runners.plan import ROW_ID, VALUE
from krnel_graph_spark.runners.spark_runner import _stored_frame
from krnel_graph_spark.runners.store import ResultStore

_UUID = "StoredOp_abc"


def _rows(df):
    def norm(v):
        if isinstance(v, VariantVal):  # no __eq__
            return (bytes(v.value), bytes(v.metadata))
        return v

    return [tuple(norm(v) for v in row) for row in df.orderBy("id").collect()]


def _frame(spark, n: int):
    return spark.range(n).selectExpr(f"id AS {ROW_ID}", "id")


def _write(tmp_path, df, facts=None) -> tuple[ResultStore, str]:
    """Store ``df`` as one entry; return the store and the entry's path."""
    store = ResultStore(str(tmp_path / "store"))
    store.write_parquet(_UUID, df, facts or {})
    return store, store.parquet_path(_UUID)


def _read(spark, store):
    return store.read_parquet(spark, _UUID)[0]


def _schema_files(root) -> list[str]:
    return [
        d for d, _, files in os.walk(root) if ResultStore.SCHEMA in files
    ]


_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _spark_writer_forced(spark) -> bool:
    return spark.conf.get(_THRESHOLD) == "-1"


def _written_by_spark(path) -> bool:
    """Spark's commit protocol leaves ``_SUCCESS``; the one-file path
    leaves exactly its data file and the schema."""
    names = set(os.listdir(path))
    if "_SUCCESS" in names:
        return True
    assert names == {"part-00000.parquet", ResultStore.SCHEMA}
    return False


_COLUMNS = {
    "array_float": "array(cast(1.5 as float), cast(null as float))",
    "double": "cast(id as double) / 3",
    "boolean": "id % 2 = 0",
    "string": "concat('s', cast(id as string))",
    "date": "date_add(date'2024-02-28', cast(id as int))",
    "date_pre1582": "date_add(date'1200-02-28', cast(id as int))",
    "timestamp": "timestamp'2024-01-02 03:04:05.123456' + make_interval(0, 0, 0, 0, cast(id as int))",
    "timestamp_ntz": "timestamp_ntz'2024-01-02 03:04:05'",
    "timestamp_pre1900": "timestamp'1850-01-02 03:04:05.123456' + make_interval(0, 0, 0, 0, cast(id as int))",
    "decimal": "cast(id as decimal(20, 4)) / 7",
    "binary": "cast(concat('b', cast(id as string)) as binary)",
    "struct": "named_struct('a', id, 'b', array(named_struct('c', 'x')))",
    "map": "map('k', cast(id as double), 'n', cast(null as double))",
    "variant": "parse_json(concat('{\"a\": [', cast(id as string), ', 2.5]}'))",
    "non_nullable": "id + 1",
}


@pytest.mark.parametrize("kind", sorted(_COLUMNS))
def test_schema_given_reread_equals_inferred(spark, tmp_path, kind):
    df = _frame(spark, 4).selectExpr(ROW_ID, "id", f"{_COLUMNS[kind]} AS c")
    if kind == "non_nullable":
        assert not df.schema["c"].nullable
    store, path = _write(tmp_path, df)
    assert os.path.isfile(os.path.join(path, ResultStore.SCHEMA))
    assert _written_by_spark(path) == _spark_writer_forced(spark)

    given = _read(spark, store)
    inferred = spark.read.parquet(path)
    assert given.schema == inferred.schema
    assert _rows(given) == _rows(inferred)
    assert jobs_during(spark, lambda: _read(spark, store)) == 0


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


_PACKAGE = Path(krnel_graph_spark.__file__).parent
_STORE = _PACKAGE / "runners" / "store.py"


def _calls(path: Path):
    """``(function name, call node)`` for every call in ``path``."""
    for fn in ast.walk(ast.parse(path.read_text())):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    yield fn.name, node


def _callee(node: ast.Call):
    return getattr(node.func, "attr", getattr(node.func, "id", None))


def test_store_parquet_only_through_the_helpers():
    """Store paths come from ``parquet_path``. Outside ``store.py`` only
    the cache uses one, to copy trees, and nothing reads a store path
    with ``spark.read``: every store read goes through
    ``ResultStore.read_parquet``."""
    offenders = []
    for path in sorted(_PACKAGE.rglob("*.py")):
        if path == _STORE:
            continue
        rel = str(path.relative_to(_PACKAGE))
        for _fn, node in _calls(path):
            src = ast.unparse(node)
            if _callee(node) == "parquet_path" and rel != "runners/cached_runner.py":
                offenders.append(f"{rel}: {src}")
            elif ".read." in f"{ast.unparse(node.func)}." and "parquet_path" in src:
                offenders.append(f"{rel}: {src}")
    assert offenders == []


def test_entry_format_named_only_in_the_store_module():
    """The names of an entry's parquet directory, its schema file and
    the plan-facts key appear in no module but ``store.py``."""
    names = (ResultStore.PARQUET, ResultStore.SCHEMA, ResultStore.PLAN_FACTS)
    offenders = [
        f"{path.relative_to(_PACKAGE)}:{i}"
        for path in sorted(_PACKAGE.rglob("*.py"))
        if path != _STORE
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if any(name in line for name in names)
    ]
    assert offenders == []


def test_arrow_parquet_writes_only_in_the_store_writer():
    """pyarrow writes parquet in one place: the one-file path of
    ``ResultStore.write_parquet``. Any other Arrow writer would bypass
    the gate, the footer keys and the staged commit."""
    writers = {
        (str(path.relative_to(_PACKAGE)), fn)
        for path in sorted(_PACKAGE.rglob("*.py"))
        for fn, node in _calls(path)
        if _callee(node) in ("write_table", "ParquetWriter")
    }
    assert writers == {("runners/store.py", "_write_one_file")}


def test_only_the_staging_rule_renames_in_runners():
    """Every write into the store commits through ``ResultStore.staged``:
    it is the one caller of ``os.replace`` under ``runners/``."""
    callers = {
        (str(path.relative_to(_PACKAGE)), fn)
        for path in sorted((_PACKAGE / "runners").rglob("*.py"))
        for fn, node in _calls(path)
        if _callee(node) in ("replace", "rename", "renames")
        and ast.unparse(node.func).startswith("os.")
    }
    assert callers == {("runners/store.py", "staged")}


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
    stored = spark.read.parquet(runner.store.parquet_path(tmpl.uuid))
    rows = stored.collect()
    legacy = spark.createDataFrame(rows, stored.schema).withMetadata(ROW_ID, {})
    runner.store.write_parquet(tmpl.uuid, legacy, {})

    fresh = SparkRunner(spark=spark, store_path=store)
    plan = fresh.column_plan(tmpl)
    assert (plan.aligned_with, plan.dense) == (tmpl.uuid, False)
    assert fresh.to_pandas(masked)["n"].tolist() == ["n1", "n7"]


def test_stale_part_files_are_not_read_back(spark, tmp_path):
    """A crashed earlier write may leave part files behind; the new
    entry replaces the old directory rather than merging into it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = ResultStore(str(tmp_path / "store"))
    path = Path(store.parquet_path(_UUID))
    path.mkdir(parents=True)
    pq.write_table(
        pa.table({ROW_ID: [100, 101], "id": [100, 101]}),
        str(path / "part-00007-stale.parquet"),
    )
    store.write_parquet(_UUID, _frame(spark, 3), {})
    assert _rows(_read(spark, store)) == [(0, 0), (1, 1), (2, 2)]
    assert _written_by_spark(str(path)) == _spark_writer_forced(spark)


class TestSparkWriter:
    """The store tests above, through Spark's writer: a broadcast
    threshold of -1 fails the one-file gate."""

    @pytest.fixture(autouse=True)
    def _spark_writer(self, spark):
        old = spark.conf.get(_THRESHOLD)
        spark.conf.set(_THRESHOLD, "-1")
        yield
        spark.conf.set(_THRESHOLD, old)

    test_schema_given_reread_equals_inferred = staticmethod(
        test_schema_given_reread_equals_inferred
    )
    test_persisted_result_reloads_without_a_job = staticmethod(
        test_persisted_result_reloads_without_a_job
    )
    test_entry_without_schema_file_still_loads = staticmethod(
        test_entry_without_schema_file_still_loads
    )
    test_cached_rehydrate_carries_the_schema = staticmethod(
        test_cached_rehydrate_carries_the_schema
    )
    test_prepared_source_loads_from_store_without_inference = staticmethod(
        test_prepared_source_loads_from_store_without_inference
    )
    test_entry_without_plan_facts_still_loads = staticmethod(
        test_entry_without_plan_facts_still_loads
    )
    test_stale_part_files_are_not_read_back = staticmethod(
        test_stale_part_files_are_not_read_back
    )


def test_small_persist_leaves_one_data_file(runner):
    ds = runner.from_inline_dataset({"n": [f"n{i}" for i in range(500)]})
    op = ds.template("[{{n}}]", n=ds.col_text("n"))
    runner.to_pandas(op)
    path = runner.store.parquet_path(op.uuid)
    assert sorted(os.listdir(path)) == [ResultStore.SCHEMA, "part-00000.parquet"]


def test_unknown_size_takes_the_spark_writer(spark, tmp_path):
    """A frame built from an RDD has no size estimate. (A checkpointed
    frame keeps its origin's estimate, so a small one writes one file.)"""
    rdd = spark.sparkContext.parallelize([(i, i, i * 2) for i in range(10)], 2)
    df = spark.createDataFrame(rdd, f"{ROW_ID} long, id long, c long")
    assert plan_size_bytes(df) is None
    assert plan_size_bytes(df.localCheckpoint()) is None
    store, path = _write(tmp_path, df)
    assert _written_by_spark(path)
    assert _rows(_read(spark, store)) == _rows(df)


def test_uri_store_root_is_rejected(spark, tmp_path, monkeypatch):
    """The sidecars are written with ``os`` and the parquet data by
    Spark, so a URI root would split one entry across the local disk
    (under ``./s3:/...``) and the remote filesystem. It is refused
    before anything is written."""
    monkeypatch.chdir(tmp_path)
    for root in ("s3://bucket/store", "file:///tmp/store", "hdfs://nn:8020/s"):
        with pytest.raises(ValueError, match="local or mounted"):
            ResultStore(root)
        with pytest.raises(ValueError, match="local or mounted"):
            SparkRunner(spark=spark, store_path=root)
        with pytest.raises(ValueError, match="local or mounted"):
            LocalCachedRunner(
                spark=spark, store_path=root, cache_path=str(tmp_path / "c")
            )
    assert os.listdir(tmp_path) == []
    ResultStore(str(tmp_path / "colon:in/the_name"))  # a path, not a URI


def test_frame_far_above_its_estimate_takes_the_spark_writer(
    runner, spark, tmp_path
):
    """Catalyst sizes an LLM op's ``array<float>`` output as one element,
    so wide activations are estimated far below their bytes. The
    one-file path must notice the real size and leave the write to
    Spark's writer. The result (52 MB) is more than the socket buffers
    hold, so a give-up that left the collect's socket open would hang."""
    texts = runner.from_inline_dataset({"t": [f"t{i}" for i in range(200)]})
    acts = texts.col_text("t").llm_layer_activations("fake:dim65536", layer_num=1)
    frame, facts = _stored_frame(runner.dispatch(acts)(runner, acts))
    threshold = 64 * 1024
    old = spark.conf.get(_THRESHOLD)
    spark.conf.set(_THRESHOLD, str(threshold))
    try:
        assert plan_size_bytes(frame) <= threshold
        store, path = _write(tmp_path, frame, facts)
    finally:
        spark.conf.set(_THRESHOLD, old)
    assert _written_by_spark(path)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    back = _read(spark, store).orderBy(ROW_ID).toPandas()
    assert len(back) == 200 and {len(v) for v in back[VALUE]} == {65536}


def test_slow_small_frame_takes_the_one_file_path(spark, tmp_path, monkeypatch):
    """The collect's first batch comes only when the job is done, so the
    socket must wait as long as the job runs: a slow small frame is
    still written as one file, not computed again by Spark's writer."""
    monkeypatch.setenv("SPARK_AUTH_SOCKET_TIMEOUT", "1")

    def slow(batches):
        import time

        time.sleep(3)
        yield from batches

    df = _frame(spark, 3).coalesce(1).mapInArrow(slow, f"{ROW_ID} long, id long")
    store, path = _write(tmp_path, df)
    assert not _written_by_spark(path)
    assert _rows(_read(spark, store)) == [(0, 0), (1, 1), (2, 2)]


def test_failed_collect_takes_the_spark_writer(spark, tmp_path, monkeypatch):
    """A collect that fails (on ``spark.driver.maxResultSize``, say)
    leaves the frame to Spark's writer, which raises a genuine error
    itself."""
    from pyspark.sql.pandas.serializers import ArrowCollectSerializer

    def fail(self, stream):
        raise RuntimeError("collect failed")
        yield

    monkeypatch.setattr(ArrowCollectSerializer, "load_stream", fail)
    store, path = _write(tmp_path, _frame(spark, 3))
    assert _written_by_spark(path)
    assert _rows(_read(spark, store)) == [(0, 0), (1, 1), (2, 2)]
