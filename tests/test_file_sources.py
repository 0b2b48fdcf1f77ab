"""The six file-backed sources share one rule: identity by content (golden
UUIDs below), one lowering (a missing local file is served from the copy
``prepare()`` pushed into the store, or raises ``FileNotFoundError``) and
one row-id rule. Every format is checked the same way."""

import os
import shutil

import pandas as pd
import pytest

from krnel_graph_spark import SparkRunner
from krnel_graph_spark.operators.dataset_ops import LoadFileDatasetOp

FORMATS = ["parquet", "csv", "json_lines", "orc", "avro", "text"]


def _source(runner, fmt, path):
    if fmt == "text":
        return runner.from_text(path, column="name")
    return getattr(runner, f"from_{fmt}")(path)


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    """One small source per format, each holding the names n0..n4."""
    from krnel_graph_spark.sources.avro import write_avro_dataframe

    root = tmp_path_factory.mktemp("file_sources")
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(5)], "id long, name string"
    ).coalesce(1)
    paths = {fmt: str(root / fmt) for fmt in FORMATS}
    df.write.parquet(paths["parquet"])
    df.write.option("header", True).csv(paths["csv"])
    df.write.json(paths["json_lines"])
    df.write.orc(paths["orc"])
    write_avro_dataframe(df, paths["avro"], "deflate")
    df.select("name").write.text(paths["text"])
    return paths


def _copy(sources, fmt, tmp_path):
    path = str(tmp_path / f"src_{fmt}")
    shutil.copytree(sources[fmt], path)
    return path


@pytest.mark.parametrize("fmt", FORMATS)
def test_prepared_source_serves_a_runner_without_the_file(
    spark, sources, tmp_path, fmt
):
    src = _copy(sources, fmt, tmp_path)
    store = str(tmp_path / "store")
    owner = SparkRunner(spark=spark, store_path=store)
    ds = _source(owner, fmt, src)
    masked = ds.mask_rows(ds.col_categorical("name").is_in({"n1", "n3"}))
    op = masked.template("{{n}}!", n=masked.col_text("name"))
    want = SparkRunner(spark=spark, store_path=None).to_pandas(op)
    assert want.iloc[:, 0].tolist() == ["n1!", "n3!"]
    owner.prepare(op)

    shutil.move(src, str(tmp_path / "moved"))
    worker = SparkRunner(spark=spark, store_path=store)
    pd.testing.assert_frame_equal(worker.to_pandas(op), want)


@pytest.mark.parametrize("fmt", FORMATS)
def test_missing_unprepared_source_raises_file_not_found(
    spark, sources, tmp_path, fmt
):
    src = _copy(sources, fmt, tmp_path)
    runner = SparkRunner(spark=spark, store_path=str(tmp_path / "store"))
    ds = _source(runner, fmt, src)
    shutil.rmtree(src)
    with pytest.raises(FileNotFoundError, match="not prepared"):
        runner.to_pandas(ds)


def test_file_path_is_declared_once():
    def declares(cls):
        return "file_path" in vars(cls).get("__annotations__", {})

    formats = LoadFileDatasetOp.__subclasses__()
    assert len(formats) == len(FORMATS)
    assert declares(LoadFileDatasetOp)
    assert not any(declares(cls) for cls in formats)
    assert all("file_path" in cls.model_fields for cls in formats)


# Over fixed file bytes; any change here re-keys every stored result that
# descends from a file source.
GOLDEN_UUIDS = {
    "parquet": "LoadParquetDatasetOp_043c31f22081a833e369df6ba73acb406d6976e8a923971a409030d38dc0a3c6",
    "parquet_dir": "LoadParquetDatasetOp_ff2e4b9e1dce69d1331dafdb9d7b58a5436eb1c9155ef8737f6c56eb968b24da",
    "csv": "LoadCSVDatasetOp_4ac8877d859e087bcc0af1093b726e0d0cb9d2e823173fa5ead6a764cc8b1054",
    "csv_params": "LoadCSVDatasetOp_16f4f6c03cd3ce055db597d46a022e69dc8c10517a07e55c1f7825cfab924cef",
    "json_lines": "LoadJSONLinesDatasetOp_b5faeec1836ded08906015e687806f7835d700f99e21e7c4b0a79c3b10424e06",
    "json_lines_schema": "LoadJSONLinesDatasetOp_3f5570a0aae245a4f0ca03b69492ae4a7a153ce255652eff52d62f2b3e7b8b2b",
    "orc": "LoadORCDatasetOp_87f3614b5518e666405b3f1f3b3dfeacda3f546d74526f2a3cff5bf61e9ca1e5",
    "avro": "LoadAvroDatasetOp_b33a9f112f973a3088d89230fcf22b8819795f7ba9808d09912e28553d76cad4",
    "avro_schema": "LoadAvroDatasetOp_88da19d7a6e68020fd32243171ba51798dcf0ba638fc86ce6de6f3595ddf7187",
    "text": "LoadTextLinesDatasetOp_fe5cfbdf19995985b5816aafbb177ebf280918173a2cbd25a28d1203f5ab1eef",
    "text_line": "LoadTextLinesDatasetOp_79e77ad729d2f4d7edbe7ea895d91cfb999d4a0748e6be37fc908335b6b4505e",
    "inline": "LoadInlineJsonDatasetOp_e1bb612fb9e213bcba6c4cb92733e6f2e9a39e66bec3657d4cf0f2bedb2f9589",
}


def test_source_uuids_are_golden(lazy_runner, tmp_path):
    def put(name, data):
        path = tmp_path / name
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(data)
        return str(path)

    r = lazy_runner
    pq = put("a.parquet", b"PAR1 golden parquet bytes PAR1")
    put("dir.parquet/part-0.parquet", b"0123456789")
    put("dir.parquet/part-1.parquet", b"01234567890123456789")
    csv = put("a.csv", b"id,name\n1,ann\n2,bob\n")
    js = put("a.jsonl", b'{"id": 1, "name": "ann"}\n{"id": 2, "name": "bob"}\n')
    orc = put("a.orc", b"ORC golden orc bytes")
    avro = put("a.avro", b"Obj\x01 golden avro bytes")
    txt = put("a.txt", b"alpha beta\ngamma\n")
    ops = {
        "parquet": r.from_parquet(pq),
        "parquet_dir": r.from_parquet(os.path.join(tmp_path, "dir.parquet")),
        "csv": r.from_csv(csv),
        "csv_params": r.from_csv(
            csv, schema="id long, name string", header=False, delimiter=";"
        ),
        "json_lines": r.from_json_lines(js),
        "json_lines_schema": r.from_json_lines(js, schema="id long, name string"),
        "orc": r.from_orc(orc),
        "avro": r.from_avro(avro),
        "avro_schema": r.from_avro(avro, schema="id long, name string"),
        "text": r.from_text(txt),
        "text_line": r.from_text(txt, column="line"),
        "inline": r.from_inline_dataset({"a": [1, 2], "b": ["x", None]}),
    }
    assert {k: op.uuid for k, op in ops.items()} == GOLDEN_UUIDS
