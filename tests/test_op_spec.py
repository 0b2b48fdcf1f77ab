"""OpSpec kernel: identity, hashing, serialization, substitution.

Mirrors the reference's test strategy (SURVEY.md §5.1): pinned-UUID goldens
(our own scheme's goldens), immutability, round-trips, failure modes."""

import pytest
from pydantic import ValidationError

from krnel_graph_spark.operators.dataset_ops import (
    CategoryToBooleanOp,
    LoadInlineJsonDatasetOp,
    MaskRowsOp,
    SelectCategoricalColumnOp,
    TakeRowsOp,
)
from krnel_graph_spark.plans import (
    GraphError,
    OpSpec,
    UUIDMismatchError,
    deserialize_graph,
    graph_substitute,
    serialize_graph,
)


def make_ds(**overrides):
    data = {"id": [1, 2, 3], "cat": ["a", "b", "a"]}
    data.update(overrides)
    return LoadInlineJsonDatasetOp(data=data, content_hash="h1")


def test_uuid_scheme_and_determinism():
    ds = make_ds()
    assert ds.uuid.startswith("LoadInlineJsonDatasetOp_")
    digest = ds.uuid.split("_", 1)[1]
    assert len(digest) == 64
    assert make_ds().uuid == ds.uuid  # same content, same identity
    assert make_ds(id=[9, 9, 9]).uuid != ds.uuid


def test_uuid_transitively_covers_upstream_graph():
    ds1, ds2 = make_ds(), make_ds(id=[7, 8, 9])
    take1 = TakeRowsOp(dataset=ds1, num_rows=2)
    take2 = TakeRowsOp(dataset=ds2, num_rows=2)
    assert take1.uuid != take2.uuid  # same params, different upstream
    assert TakeRowsOp(dataset=ds1, num_rows=2).uuid == take1.uuid


def test_value_list_normalization_stabilizes_uuid():
    ds = make_ds()
    col = SelectCategoricalColumnOp(dataset=ds, column_name="cat")
    a = CategoryToBooleanOp(input_category=col, true_values=["b", "a", "a"])
    b = CategoryToBooleanOp(input_category=col, true_values=["a", "b"])
    assert a.uuid == b.uuid
    assert a.true_values == ["a", "b"]


def test_frozen_immutability():
    ds = make_ds()
    with pytest.raises(ValidationError):
        ds.content_hash = "other"


def test_dependencies_direct_and_recursive():
    ds = make_ds()
    col = SelectCategoricalColumnOp(dataset=ds, column_name="cat")
    mask = CategoryToBooleanOp(input_category=col, true_values=["a"])
    masked = MaskRowsOp(dataset=ds, mask=mask)
    assert {d.uuid for d in masked.get_dependencies()} == {ds.uuid, mask.uuid}
    rec = masked.get_dependencies(recursive=True)
    assert [d.uuid for d in rec].count(ds.uuid) == 1  # deduplicated
    assert {d.uuid for d in rec} == {ds.uuid, col.uuid, mask.uuid}
    # dependency-first ordering
    order = [d.uuid for d in rec]
    assert order.index(ds.uuid) < order.index(col.uuid) < order.index(mask.uuid)


def test_serialize_roundtrip():
    ds = make_ds()
    col = SelectCategoricalColumnOp(dataset=ds, column_name="cat")
    mask = CategoryToBooleanOp(input_category=col, true_values=["a"])
    masked = MaskRowsOp(dataset=ds, mask=mask)
    graph = serialize_graph([masked])
    assert set(graph["nodes"]) == {ds.uuid, col.uuid, mask.uuid, masked.uuid}
    [rebuilt] = deserialize_graph(graph)
    assert rebuilt.uuid == masked.uuid
    assert rebuilt.mask.true_values == ["a"]


def test_uuid_shaped_inline_data_of_an_unrelated_op_stays_a_string():
    """Inline data is not a graph edge, even when a value has the shape
    of a registered op's UUID."""
    other = make_ds(id=[9])
    ds = make_ds(u=[other.uuid, "x", other.uuid])
    col = SelectCategoricalColumnOp(dataset=ds, column_name="u")
    [rebuilt] = deserialize_graph(serialize_graph([col]))
    assert rebuilt.uuid == col.uuid
    assert rebuilt.dataset.data == ds.data


def test_uuid_shaped_inline_data_of_a_node_in_the_graph_stays_a_string():
    """The same holds when the UUID names a node of the same graph: the
    data keeps its string and gains no dependency."""
    ds = make_ds()
    tagged = make_ds(u=[ds.uuid, "x", ds.uuid])
    col = SelectCategoricalColumnOp(dataset=ds, column_name="cat")
    mask = CategoryToBooleanOp(input_category=col, true_values=["a"])
    masked = MaskRowsOp(dataset=tagged, mask=mask)
    [rebuilt] = deserialize_graph(serialize_graph([masked]))
    assert rebuilt.uuid == masked.uuid
    assert rebuilt.dataset.data == tagged.data
    assert rebuilt.dataset.get_dependencies() == []


def test_deserialize_detects_hash_drift():
    ds = make_ds()
    graph = serialize_graph([ds])
    graph["nodes"][ds.uuid]["content_hash"] = "tampered"
    with pytest.raises(UUIDMismatchError):
        deserialize_graph(graph)


def test_deserialize_rejects_missing_node_and_unreachable():
    ds = make_ds()
    take = TakeRowsOp(dataset=ds, num_rows=1)
    graph = serialize_graph([take])
    del graph["nodes"][ds.uuid]
    with pytest.raises(GraphError):
        deserialize_graph(graph)

    graph2 = serialize_graph([take])
    stray = make_ds(id=[42])
    graph2["nodes"][stray.uuid] = stray._node_payload()
    with pytest.raises(GraphError, match="unreachable"):
        deserialize_graph(graph2)


def test_subs_replaces_node_and_rebuilds_downstream():
    ds1, ds2 = make_ds(), make_ds(id=[7, 8, 9])
    col = SelectCategoricalColumnOp(dataset=ds1, column_name="cat")
    mask = CategoryToBooleanOp(input_category=col, true_values=["a"])
    masked = MaskRowsOp(dataset=ds1, mask=mask)

    swapped = masked.subs(ds1, ds2)
    assert swapped.dataset.uuid == ds2.uuid
    assert swapped.mask.input_category.dataset.uuid == ds2.uuid
    assert swapped.uuid != masked.uuid
    # Original untouched (immutability)
    assert masked.dataset.uuid == ds1.uuid


def test_subs_field_change():
    ds = make_ds()
    take = TakeRowsOp(dataset=ds, num_rows=1)
    take5 = take.subs(num_rows=5)
    assert take5.num_rows == 5 and take5.dataset.uuid == ds.uuid


def test_subs_missing_target_errors():
    ds1, ds2 = make_ds(), make_ds(id=[7])
    take = TakeRowsOp(dataset=ds1, num_rows=1)
    with pytest.raises(GraphError):
        take.subs(ds2, ds1)


def test_graph_substitute_shared_subgraph():
    ds1, ds2 = make_ds(), make_ds(id=[5, 5, 5])
    col = SelectCategoricalColumnOp(dataset=ds1, column_name="cat")
    m1 = CategoryToBooleanOp(input_category=col, true_values=["a"])
    m2 = CategoryToBooleanOp(input_category=col, false_values=["b"])
    r1, r2 = graph_substitute([m1, m2], {ds1: ds2})
    assert r1.input_category.dataset.uuid == ds2.uuid
    assert r2.input_category.dataset.uuid == ds2.uuid
    # shared rebuilt node is the same object
    assert r1.input_category is r2.input_category


def test_category_validation_errors():
    ds = make_ds()
    col = SelectCategoricalColumnOp(dataset=ds, column_name="cat")
    with pytest.raises(Exception):
        CategoryToBooleanOp(input_category=col)  # neither list
    with pytest.raises(Exception):
        CategoryToBooleanOp(input_category=col, true_values=[])


def test_exclude_from_uuid():
    from krnel_graph_spark.operators.dataset_ops import LoadParquetDatasetOp

    a = LoadParquetDatasetOp(file_path="/a.parquet", content_hash="x")
    b = LoadParquetDatasetOp(file_path="/b.parquet", content_hash="x")
    assert a.uuid == b.uuid  # path excluded; content identity wins
    c = LoadParquetDatasetOp(file_path="/a.parquet", content_hash="y")
    assert c.uuid != a.uuid


def test_template_key_collision_rejected():
    from krnel_graph_spark.operators.dataset_ops import JinjaTemplatizeOp

    ds = make_ds(name=["x", "y", "z"])
    from krnel_graph_spark.operators.dataset_ops import SelectTextColumnOp

    name_col = SelectTextColumnOp(dataset=ds, column_name="name")
    with pytest.raises(Exception, match="both"):
        JinjaTemplatizeOp(
            template="{{n}}", context={"n": name_col}, constants={"n": 5}
        )


def test_pinned_golden_uuid():
    """Our engine's own pinned golden: flags accidental hash-scheme drift."""
    ds = LoadInlineJsonDatasetOp(data={"id": [1]}, content_hash="golden")
    assert ds.uuid == ds.uuid
    import hashlib, json

    payload = {"content_hash": "golden", "data": {"id": [1]}}
    expected = hashlib.sha256(
        json.dumps(payload, sort_keys=True).encode()
    ).hexdigest()
    assert ds.uuid == f"LoadInlineJsonDatasetOp_{expected}"


def _fluent_defaults():
    """``(method, parameter, default, op field)`` for every defaulted
    parameter of a fluent method in ``types.py`` that the method passes
    unchanged to the op it builds."""
    import ast
    import inspect
    import textwrap

    import krnel_graph_spark.operators  # noqa: F401  (registers every op)
    from krnel_graph_spark import types
    from krnel_graph_spark.plans.op_spec import op_class

    found = []
    for cls in vars(types).values():
        if not (isinstance(cls, type) and cls.__module__ == types.__name__):
            continue
        for name, fn in vars(cls).items():
            if not inspect.isfunction(fn):
                continue
            defaults = {
                p.name: p.default
                for p in inspect.signature(fn).parameters.values()
                if p.default is not inspect.Parameter.empty
            }
            tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
            for call in ast.walk(tree):
                if not (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Name)
                    and call.func.id.endswith("Op")
                ):
                    continue
                fields = op_class(call.func.id).model_fields
                for kw in call.keywords:
                    if isinstance(kw.value, ast.Name) and kw.value.id in defaults:
                        found.append(
                            (
                                f"{cls.__name__}.{name}",
                                kw.value.id,
                                defaults[kw.value.id],
                                fields[kw.arg],
                            )
                        )
    return found


def test_fluent_defaults_equal_op_field_defaults():
    """A fluent call that omits a parameter builds the same op (same UUID)
    as constructing the op without that field."""
    found = _fluent_defaults()
    assert len(found) > 50  # the scan reaches the fluent surface
    wrong = [
        (method, param, default, field.default)
        for method, param, default, field in found
        if field.is_required() or field.default != default
    ]
    assert wrong == []
