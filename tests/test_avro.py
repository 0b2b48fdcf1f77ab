"""Avro container source/sink: pure-Python codec + distributed round-trip.

The container has no spark-avro jar and no avro-python library, so the
codec is checked three ways: (1) hand-built byte-level golden per the
Avro 1.x spec (an independent encoding of a tiny file this test
constructs varint-by-varint), (2) encode/decode round-trips across every
supported type including nullables and both codecs, (3) a distributed
Spark round-trip whose result must equal the original parquet exactly.
"""

import struct

import numpy as np
import pandas as pd
import pytest

from krnel_graph_spark.sources import avro as av


def _varint(n: int) -> bytes:  # independent zigzag+varint for the golden
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def test_byte_level_golden_null_codec():
    """Hand-assembled container file (null codec, two records of
    {id: long, name: string}) decodes to the expected rows."""
    schema_json = (
        b'{"type": "record", "name": "row", "fields": '
        b'[{"name": "id", "type": "long"}, {"name": "name", "type": "string"}]}'
    )
    meta = bytearray()
    meta += _varint(2)
    for k, v in ((b"avro.schema", schema_json), (b"avro.codec", b"null")):
        meta += _varint(len(k)) + k + _varint(len(v)) + v
    meta += _varint(0)
    sync = b"S" * 16
    body = _varint(7) + _varint(2) + b"hi" + _varint(-3) + _varint(2) + b"yo"
    block = _varint(2) + _varint(len(body)) + body + sync
    data = b"Obj\x01" + bytes(meta) + sync + block

    schema, records = av.decode_container(data)
    assert [f["name"] for f in schema["fields"]] == ["id", "name"]
    assert records == [{"id": 7, "name": "hi"}, {"id": -3, "name": "yo"}]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip_all_types(codec):
    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "l", "type": ["null", "long"]},
            {"name": "i", "type": "int"},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "b", "type": "boolean"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "raw", "type": "bytes"},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
        ],
    }
    records = [
        {
            "l": (-1) ** k * 2**k, "i": k - 5, "d": k * 0.5, "f": 1.5,
            "b": bool(k % 2), "s": None if k == 3 else f"s{k}" * k,
            "raw": bytes([k] * k), "arr": list(range(k)),
        }
        for k in range(10)
    ] + [{"l": None, "i": 0, "d": -0.0, "f": 0.0, "b": False, "s": "",
          "raw": b"", "arr": []}]
    out_schema, out = av.decode_container(
        av.encode_container(schema, records, codec)
    )
    assert out_schema == schema
    assert out == records


def test_corruption_detected():
    schema = {"type": "record", "name": "row",
              "fields": [{"name": "x", "type": "long"}]}
    data = bytearray(av.encode_container(schema, [{"x": 1}], "null"))
    with pytest.raises(ValueError, match="magic"):
        av.decode_container(b"PAR1" + bytes(data[4:]))
    data[-1] ^= 0xFF  # flip last sync byte
    with pytest.raises(ValueError, match="sync"):
        av.decode_container(bytes(data))


def test_schema_mapping_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.5, True, bytearray(b"zz"), [1.0, 2.0])],
        "k bigint, s string, v double, ok boolean, raw binary, e array<float>",
    )
    ddl = av.spark_ddl_from_avro(av.avro_schema_from_spark(df.schema))
    assert ddl == (
        "k bigint, s string, v double, ok boolean, raw binary, e array<float>"
    )
    with pytest.raises(NotImplementedError):
        av.avro_schema_from_spark(
            spark.createDataFrame([({"a": 1},)], "m map<string,int>").schema
        )


def test_distributed_roundtrip_matches_parquet(spark, tmp_path):
    src = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    path = str(tmp_path / "supplier_avro")
    av.write_avro_dataframe(src.repartition(3), path)

    import os

    parts = [f for f in os.listdir(path) if f.endswith(".avro")]
    assert len(parts) == 3  # one container file per partition

    back = av.read_avro_dataframe(spark, path)  # schema from file header
    a = src.toPandas().sort_values("s_suppkey").reset_index(drop=True)
    b = back.toPandas().sort_values("s_suppkey").reset_index(drop=True)[a.columns.tolist()]
    pd.testing.assert_frame_equal(a, b, check_dtype=True)


def test_timestamp_and_embedding_roundtrip(spark, tmp_path):
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(200)
    )
    path = str(tmp_path / "events_avro")
    av.write_avro_dataframe(ev, path, codec="null")
    back = av.read_avro_dataframe(spark, path)
    a = ev.toPandas().sort_values("event_id").reset_index(drop=True)
    b = back.toPandas().sort_values("event_id").reset_index(drop=True)[
        a.columns.tolist()
    ]
    pd.testing.assert_frame_equal(a, b)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    path2 = str(tmp_path / "emb_avro")
    av.write_avro_dataframe(emb, path2)
    back2 = av.read_avro_dataframe(spark, path2).toPandas()
    orig = emb.toPandas()
    assert len(back2) == len(orig)
    o = orig.sort_values("vec_id").reset_index(drop=True)
    g = back2.sort_values("vec_id").reset_index(drop=True)
    np.testing.assert_array_equal(
        np.stack(o["embedding"].to_numpy()), np.stack(g["embedding"].to_numpy())
    )


def test_runner_avro_roundtrip(runner):
    nat = runner.from_parquet("/root/testdata/sf0.001/nation.parquet")
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        runner.write_avro(nat, f"{td}/nation", sort_by_row_id=True)
        back = runner.from_avro(f"{td}/nation")
        pdf = runner.to_pandas(back)
    orig = runner.to_pandas(nat)
    assert pdf[orig.columns.tolist()].equals(orig)


def test_date_column_roundtrip(spark, tmp_path):
    src = spark.sql(
        "SELECT id, date_add(date'2020-01-01', CAST(id AS INT)) AS d, "
        "CASE WHEN id % 3 = 0 THEN NULL "
        "ELSE date_sub(date'1969-12-31', CAST(id AS INT)) END AS pre_epoch "
        "FROM range(50)"
    )
    path = str(tmp_path / "dates_avro")
    av.write_avro_dataframe(src, path)
    back = av.read_avro_dataframe(spark, path)
    a = src.toPandas().sort_values("id").reset_index(drop=True)
    b = back.toPandas().sort_values("id").reset_index(drop=True)[a.columns.tolist()]
    pd.testing.assert_frame_equal(a, b)


def test_overwrite_clears_stale_partitions(spark, tmp_path):
    """Fallback overwrite must match spark-avro's mode('overwrite'): a
    rewrite with FEWER partitions must not leave stale part files that the
    reader's *.avro glob would silently merge back in (r7 advice fix)."""
    src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    path = str(tmp_path / "nation_avro")
    av.write_avro_dataframe(src.repartition(6), path)
    import os

    assert len([f for f in os.listdir(path) if f.endswith(".avro")]) == 6
    av.write_avro_dataframe(src.repartition(2), path)
    assert len([f for f in os.listdir(path) if f.endswith(".avro")]) == 2
    back = av.read_avro_dataframe(spark, path)
    assert back.count() == src.count()


def test_array_null_elements_and_temporal_items(spark, tmp_path):
    """Array items are nullable unions; date/timestamp elements get the
    same logical-type conversion as scalars (r7 advice fix)."""
    src = spark.sql(
        "SELECT id,"
        " array(CAST(id AS STRING), NULL, 'x') AS tags,"
        " array(date_add(date'2020-01-01', CAST(id AS INT)), NULL) AS ds,"
        " array(timestamp'2021-06-01 12:00:00' + make_interval(0,0,0,0,0,0,id),"
        "       NULL) AS ts,"
        " array(CAST(id AS DOUBLE), NULL) AS xs"
        " FROM range(20)"
    )
    path = str(tmp_path / "arr_avro")
    av.write_avro_dataframe(src, path, codec="null")
    back = av.read_avro_dataframe(spark, path)
    a = src.toPandas().sort_values("id").reset_index(drop=True)
    b = back.toPandas().sort_values("id").reset_index(drop=True)[
        a.columns.tolist()
    ]
    def norm(xs):
        # Spark's Arrow toPandas renders null list elements as nan/NaT;
        # fold every null flavor to None for the comparison.
        return [None if x is None or x != x else x for x in xs]

    for col in ("tags", "ds", "ts", "xs"):
        for av_row, bv_row in zip(a[col], b[col]):
            assert norm(av_row) == norm(bv_row), col


def test_float_array_nan_elements_roundtrip(spark, tmp_path):
    """NaN ELEMENTS of a float array are IEEE values, not missing cells:
    they must round-trip as NaN (not collapse to the null branch and
    come back as None), and numeric arrays keep the ndarray fast path
    (r7 advice fix)."""
    src = spark.sql(
        "SELECT id,"
        " array(CAST(id AS FLOAT), CAST('NaN' AS FLOAT),"
        "       CAST(id + 1 AS FLOAT)) AS emb,"
        " array(CAST('NaN' AS DOUBLE), CAST(id AS DOUBLE)) AS xs"
        " FROM range(10)"
    )
    path = str(tmp_path / "nan_avro")
    av.write_avro_dataframe(src, path, codec="null")
    back = (
        av.read_avro_dataframe(spark, path)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    for i in range(10):
        emb = np.asarray(back["emb"][i], dtype="float64")
        assert emb[0] == i and emb[2] == i + 1
        assert np.isnan(emb[1])  # NaN survived, not None
        xs = np.asarray(back["xs"][i], dtype="float64")
        assert np.isnan(xs[0]) and xs[1] == i


def test_runner_reads_a_single_avro_file(spark, lazy_runner, tmp_path):
    """Without the jar and without a schema, the schema comes from the
    header of the one file given, not from a directory listing."""
    path = str(tmp_path / "names_avro")
    src = spark.createDataFrame([(i, f"n{i}") for i in range(4)], "id long, name string")
    av.write_avro_dataframe(src.coalesce(1), path)
    out = lazy_runner.to_pandas(lazy_runner.from_avro(f"{path}/part-00000.avro"))
    assert out.sort_values("id")["name"].tolist() == ["n0", "n1", "n2", "n3"]
