"""The row contract of lowered plans (``runners/plan.py``): plans keep
only the row facts they cannot derive, JSON text is decided once from a
column's Spark type (``plan.json_text``), exports keep their types, and
source scans keep each rule in its one place."""

import ast
import json
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pytest
from conftest import jobs_during

import krnel_graph_spark
from krnel_graph_spark import SparkRunner
from krnel_graph_spark.runners.plan import ROW_ID, ColumnPlan

MESSAGES = [
    {"role": "user", "content": "hi"},
    {"role": "bot", "content": "yo"},
    {"role": "user", "content": "bye"},
]
CONVERSATIONS = [
    [{"role": "system", "content": "be brief"}, {"role": "user", "content": "hi"}],
    [{"role": "user", "content": "tell me more"}],
]


# ---------------------------------------------------------------------- #
# The JSON-text rule                                                     #
# ---------------------------------------------------------------------- #


def test_struct_json_column_get_field(lazy_runner):
    ds = lazy_runner.from_inline_dataset({"msg": MESSAGES})
    msg = ds.col_json("msg")
    roles = lazy_runner.to_pandas(msg.get_field("role"))["value"].tolist()
    assert roles == ["user", "bot", "user"]
    exported = lazy_runner.to_pandas(msg)["msg"].tolist()
    assert [json.loads(v) for v in exported] == MESSAGES


@pytest.fixture()
def string_json(lazy_runner):
    texts = [json.dumps(m) for m in MESSAGES]
    return lazy_runner, lazy_runner.from_inline_dataset({"j": texts}), texts


def test_string_json_column_exports_its_text(string_json):
    runner, ds, texts = string_json
    assert runner.to_pandas(ds.col_json("j"))["j"].tolist() == texts


def test_string_json_get_field_equals_parsed(string_json):
    runner, ds, _ = string_json
    got = runner.to_pandas(ds.col_json("j").get_field("content"))
    parsed = runner.to_pandas(ds.col_text("j").parse_json().get_field("content"))
    assert got["value"].tolist() == ["hi", "yo", "bye"]
    pd.testing.assert_frame_equal(got, parsed)


def test_string_json_template_variable(string_json):
    runner, ds, _ = string_json
    op = ds.template("{{ m.role }}: {{ m.content }}", m=ds.col_json("j"))
    assert runner.to_pandas(op)["value"].tolist() == ["user: hi", "bot: yo", "user: bye"]


def test_string_conversation_equals_structured(lazy_runner):
    """A conversation held as JSON text feeds an LLM op exactly like the
    same conversation held as ``array<struct>``."""
    structured = lazy_runner.from_inline_dataset({"conv": CONVERSATIONS})
    text = lazy_runner.from_inline_dataset(
        {"conv": [json.dumps(c) for c in CONVERSATIONS]}
    )

    def generate(ds):
        op = ds.col_conversation("conv").llm_generate_text("fake:dim8", max_tokens=400)
        return lazy_runner.to_pandas(op)

    want = generate(structured)
    assert want["value"].str.contains("<|im_start|>user", regex=False).all()
    pd.testing.assert_frame_equal(generate(text), want)


# ---------------------------------------------------------------------- #
# Stored plan facts                                                      #
# ---------------------------------------------------------------------- #


def _facts(plan):
    if isinstance(plan, ColumnPlan):
        return plan.aligned_with, plan.dense
    return plan.dense


def _rewrite_with_facts(runner, op, facts):
    """Store ``op``'s result again, with ``facts`` as its plan facts."""
    spark = runner.spark
    stored, _ = runner.store.read_parquet(spark, op.uuid)
    rows = stored.collect()
    copy = spark.createDataFrame(rows, stored.schema).withMetadata(ROW_ID, {})
    runner.store.write_parquet(op.uuid, copy, facts)


def test_entry_with_earlier_three_key_facts_plans_the_same(spark, tmp_path):
    """Entries written before the facts shrank carry ``aligned_with`` on
    datasets too and an ``is_json`` flag; a hit on them plans and exports
    like the compute."""
    store = str(tmp_path / "store")
    runner = SparkRunner(spark=spark, store_path=store)
    ds = runner.from_inline_dataset({"n": [f"n{i}" for i in range(12)]})
    enriched = ds.text_stats("n")
    tmpl = enriched.template("{{n}}!", n=enriched.col_text("n"))
    out = enriched.mask_rows(tmpl.is_in({"n1!", "n7!"})).take(1, offset=1)
    runner.plan(out)

    def hit():
        fresh = SparkRunner(spark=spark, store_path=store)
        exported = []
        jobs = jobs_during(spark, lambda: exported.append(fresh.to_pandas(out)))
        facts = {op.uuid: _facts(fresh.plan(op)) for op in (enriched, tmpl)}
        return facts, exported[0], jobs

    want_facts, want, want_jobs = hit()
    assert want["n"].tolist() == ["n7"]
    data, column = runner.plan(enriched), runner.plan(tmpl)
    _rewrite_with_facts(
        runner,
        enriched,
        {"aligned_with": enriched.uuid, "dense": data.dense, "is_json": False},
    )
    _rewrite_with_facts(
        runner,
        tmpl,
        {"aligned_with": column.aligned_with, "dense": column.dense, "is_json": False},
    )
    facts, got, jobs = hit()
    assert facts == want_facts
    assert got.equals(want)
    assert jobs == want_jobs


# ---------------------------------------------------------------------- #
# Exports                                                                #
# ---------------------------------------------------------------------- #


def test_to_arrow_keeps_spark_column_types(lazy_runner):
    ds = lazy_runner.from_inline_dataset({"k": [1, None, 3], "s": ["a", "b", None]})
    table = lazy_runner.to_arrow(ds)
    assert table.schema.field("k").type == pa.int64()
    assert table.column("k").to_pylist() == [1, None, 3]
    assert b"pandas" not in (table.schema.metadata or {})
    assert table.equals(lazy_runner.dataframe(ds).toArrow())


# ---------------------------------------------------------------------- #
# Source scans: each rule lives in one place                             #
# ---------------------------------------------------------------------- #

_PACKAGE = Path(krnel_graph_spark.__file__).parent


def _calls_by_function(path: Path):
    """``(innermost enclosing function or "<module>", call node)`` for
    every call in ``path``."""
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
            else:
                if isinstance(child, ast.Call):
                    found.append((fn, child))
                visit(child, fn)

    visit(ast.parse(path.read_text()), "<module>")
    return found


def _sites(predicate) -> set:
    return {
        f"{path.relative_to(_PACKAGE)}:{fn}"
        for path in sorted(_PACKAGE.rglob("*.py"))
        for fn, node in _calls_by_function(path)
        if predicate(path, node)
    }


def test_column_plans_are_built_only_where_rows_are_decided():
    """Every other column is derived from one (``ColumnPlan.derive``)
    and keeps that column's rows."""
    sites = _sites(lambda _p, node: getattr(node.func, "id", None) == "ColumnPlan")
    assert sites == {
        "runners/plan.py:derive",
        "runners/spark_runner.py:_load_from_store",
        "runners/spark_runner.py:select_column",
        "runners/spark_runner.py:assign_row_id",
        "runners/spark_runner.py:mask_rows",
        "runners/spark_runner.py:assign_train_test_split",
    }


def _pyspark_functions_aliases(path: Path) -> set:
    """Names bound to ``pyspark.sql.functions`` in ``path``."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            names |= {a.asname or a.name for a in node.names if a.name == "functions"}
        elif isinstance(node, ast.Import):
            names |= {a.asname for a in node.names if a.name == "pyspark.sql.functions"}
    return names


def _is_spark_to_json(path: Path, node: ast.Call) -> bool:
    func = node.func
    if isinstance(func, ast.Name):
        return func.id == "to_json"
    return (
        isinstance(func, ast.Attribute)
        and func.attr == "to_json"
        and isinstance(func.value, ast.Name)
        and func.value.id in _pyspark_functions_aliases(path)
    ) or any(
        isinstance(a, ast.Constant) and isinstance(a.value, str) and "to_json(" in a.value
        for a in node.args
    )


def test_to_json_only_in_the_json_text_rule():
    assert _sites(_is_spark_to_json) == {"runners/plan.py:json_text"}


def test_scale_implementations_live_in_scale_impl():
    from krnel_graph_spark.operators import scale_ops
    from krnel_graph_spark.runners import scale_impl

    owners = {
        op_type.__name__: fn.__module__
        for op_type, fn in SparkRunner._impl_table.items()
        if op_type.__module__ == scale_ops.__name__
    }
    assert owners and set(owners.values()) == {scale_impl.__name__}
