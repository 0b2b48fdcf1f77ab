"""Dataset / column operator specs (declarations only — no execution logic).

Capability parity with the reference's ``src/krnel/graph/dataset_ops.py``
(ops at lines 55-379); each docstring cites the matching reference op so the
surfaces can be diffed. All implementations live in the Spark runner.
"""

from __future__ import annotations

from typing import Annotated, Literal, Optional, Union

from pydantic import field_validator

from ..plans.op_spec import EphemeralOpMixin, ExcludeFromUUID
from ..types import (
    BooleanColumnType,
    CategoricalColumnType,
    ColumnType,
    ConversationColumnType,
    DatasetType,
    JSONColumnType,
    RowIDColumnType,
    ScoreColumnType,
    TextColumnType,
    TrainTestSplitColumnType,
    VectorColumnType,
)

# ---------------------------------------------------------------------- #
# Sources                                                                 #
# ---------------------------------------------------------------------- #


class LoadDatasetOp(DatasetType):
    """Base: immutable dataset identified by content hash.
    Parity: reference ``dataset_ops.py:55-62``."""

    content_hash: str


class LoadFileDatasetOp(LoadDatasetOp):
    """Base: a dataset read from a file or directory (any Spark-readable
    URL). Identity is the file content, not the path, so moving a file does
    not invalidate caches; the subclasses add their reader's parameters,
    which are part of identity."""

    file_path: Annotated[str, ExcludeFromUUID()]


class LoadParquetDatasetOp(LoadFileDatasetOp):
    """Read a Parquet file/directory. Parity: reference
    ``dataset_ops.py:65-71``."""


class LoadInlineJsonDatasetOp(LoadDatasetOp):
    """Dict-of-lists (columns orientation) literal dataset for tests/small
    data. Parity: reference ``dataset_ops.py:74-96``."""

    data: dict[str, list]


class LoadCSVDatasetOp(LoadFileDatasetOp):
    """Read a CSV file/directory (beyond-reference source; the reference
    supports only parquet + inline — ``base_runner.py:122-157``).

    ``schema_ddl`` (e.g. ``"id long, name string"``) skips Spark's
    inference pass — at 100 TB an inferSchema read is a full extra scan, so
    production callers pass the schema; identity still includes it so the
    same file with different schemas caches separately."""

    schema_ddl: Optional[str] = None
    header: bool = True
    delimiter: str = ","


class LoadJSONLinesDatasetOp(LoadFileDatasetOp):
    """Read newline-delimited JSON (beyond-reference source).
    ``schema_ddl`` skips inference, as with CSV."""

    schema_ddl: Optional[str] = None


class LoadORCDatasetOp(LoadFileDatasetOp):
    """Read an ORC file/directory (beyond-reference source). ORC is
    self-describing like parquet — no schema/inference knobs needed; the
    content hash keys identity exactly as for parquet sources."""


class LoadAvroDatasetOp(LoadFileDatasetOp):
    """Read an Avro object-container file/directory (beyond-reference
    source). Decodes via the spark-avro jar when on the classpath, else
    the pure-Python container codec in ``sources/avro.py`` (same API).
    ``schema_ddl`` overrides schema discovery from the file header."""

    schema_ddl: Optional[str] = None


class LoadTextLinesDatasetOp(LoadFileDatasetOp):
    """Read raw line-oriented text: one row per line, a single string
    column (beyond-reference source — the rawest corpus-ingestion format,
    one document per line). ``column`` names the output column; it is part
    of identity (the same file projected under two names is two logical
    datasets)."""

    column: str = "text"


# ---------------------------------------------------------------------- #
# Projections (ephemeral: a select is just a column expression)           #
# ---------------------------------------------------------------------- #


class SelectColumnOp(ColumnType, EphemeralOpMixin):
    """``dataset[column_name]`` as a typed single-column node.
    Parity: reference ``dataset_ops.py:99-121``."""

    dataset: DatasetType
    column_name: str


class SelectVectorColumnOp(SelectColumnOp, VectorColumnType):
    pass


class SelectTextColumnOp(SelectColumnOp, TextColumnType):
    pass


class SelectConversationColumnOp(SelectColumnOp, ConversationColumnType):
    pass


class SelectCategoricalColumnOp(SelectColumnOp, CategoricalColumnType):
    pass


class SelectTrainTestSplitColumnOp(SelectColumnOp, TrainTestSplitColumnType):
    pass


class SelectScoreColumnOp(SelectColumnOp, ScoreColumnType):
    pass


class SelectBooleanColumnOp(SelectColumnOp, BooleanColumnType):
    pass


class SelectJSONColumnOp(SelectColumnOp, JSONColumnType):
    pass


# ---------------------------------------------------------------------- #
# Row selection                                                           #
# ---------------------------------------------------------------------- #


class TakeRowsOp(DatasetType, EphemeralOpMixin):
    """Python-slice semantics ``rows[offset::skip][:num_rows]`` over the
    stable row order. Parity: reference ``dataset_ops.py:222-230``."""

    dataset: DatasetType
    num_rows: Optional[int] = None
    skip: int = 1
    offset: int = 0

    @field_validator("skip")
    @classmethod
    def _positive_skip(cls, v: int) -> int:
        if v < 1:
            raise ValueError(f"skip must be >= 1, got {v}")
        return v

    @field_validator("offset")
    @classmethod
    def _nonneg_offset(cls, v: int) -> int:
        if v < 0:
            raise ValueError(f"offset must be >= 0, got {v}")
        return v


class MaskRowsOp(DatasetType, EphemeralOpMixin):
    """Keep rows whose row-aligned boolean ``mask`` is true. Kept rows retain
    their original row ids. Parity: reference ``dataset_ops.py:233-245``."""

    dataset: DatasetType
    mask: BooleanColumnType


class AssignRowIDOp(RowIDColumnType):
    """Expose the engine's stable row id as a selectable column. (Declared but
    unimplemented in the reference, ``dataset_ops.py:161-166``; here it is the
    native row discipline.)"""

    dataset: DatasetType


# ---------------------------------------------------------------------- #
# Predicates & row-wise scalar functions (all ephemeral)                  #
# ---------------------------------------------------------------------- #


def _normalized_values(values) -> Optional[list[str]]:
    if values is None:
        return None
    return sorted(set(values))


class CategoryToBooleanOp(BooleanColumnType, EphemeralOpMixin):
    """Set membership → boolean. Modes: ``true_values`` only (others False);
    ``false_values`` only (others True); both (observed values must be a
    subset of the union, else error). Value lists are sorted+deduped so the
    content hash is order-insensitive. Parity: reference
    ``dataset_ops.py:254-316``."""

    input_category: Union[
        CategoricalColumnType, TrainTestSplitColumnType, TextColumnType
    ]
    true_values: Optional[list[str]] = None
    false_values: Optional[list[str]] = None

    @field_validator("true_values", "false_values", mode="before")
    @classmethod
    def _normalize(cls, v):
        return _normalized_values(v)

    def model_post_init(self, __context) -> None:
        if self.true_values is None and self.false_values is None:
            raise ValueError("Provide at least one of true_values / false_values")
        if self.true_values is not None and len(self.true_values) == 0:
            raise ValueError("true_values must be non-empty when provided")
        if self.false_values is not None and len(self.false_values) == 0:
            raise ValueError("false_values must be non-empty when provided")


class BooleanLogicOp(BooleanColumnType, EphemeralOpMixin):
    """``and/or/xor/not`` over two row-aligned boolean columns ("not" uses
    only ``left``). Parity: reference ``dataset_ops.py:319-346``."""

    operation: Literal["and", "or", "xor", "not"]
    left: BooleanColumnType
    right: BooleanColumnType


class PairwiseArithmeticOp(ScoreColumnType, EphemeralOpMixin):
    """``+ - * /`` over two row-aligned score columns with IEEE/numpy float
    semantics (x/0 → ±inf, 0/0 → nan). Parity: reference
    ``dataset_ops.py:353-379``."""

    operation: Literal["+", "-", "*", "/"]
    left: ScoreColumnType
    right: ScoreColumnType


class VectorToScalarOp(ScoreColumnType, EphemeralOpMixin):
    """Extract element ``col_index`` of each vector (bounds-checked, negative
    indices rejected). Parity: reference ``dataset_ops.py:348-351``."""

    input: VectorColumnType
    col_index: int = 0

    @field_validator("col_index")
    @classmethod
    def _nonneg(cls, v: int) -> int:
        if v < 0:
            raise ValueError(f"col_index must be >= 0, got {v}")
        return v


class ParseJSONColumnOp(JSONColumnType, EphemeralOpMixin):
    """Parse each string as JSON (errors on invalid input). Lowered to Spark
    VARIANT. Parity: reference ``dataset_ops.py:156-159``."""

    input: TextColumnType


class JSONGetFieldOp(TextColumnType, EphemeralOpMixin):
    """Extract a dotted-path field from a JSON column as text. (Additive over
    the reference, which treats JSON columns as terminal.)"""

    input: JSONColumnType
    path: str


class JinjaTemplatizeOp(TextColumnType):
    """Render a Jinja2 template per row. ``context`` columns are row-aligned
    template variables; ``constants`` are scalars; key collisions are rejected
    at graph-build time. Custom filters ``drop_nulls`` and ``repr`` and
    ``max_length`` truncation are supported. Parity: reference
    ``dataset_ops.py:187-219`` and ``local_arrow_runner.py:869-931``."""

    template: str
    context: dict[str, Union[TextColumnType, JSONColumnType]] = {}
    constants: dict[str, Union[float, int, str]] = {}
    max_length: Optional[int] = None

    def model_post_init(self, __context) -> None:
        collisions = set(self.context) & set(self.constants)
        if collisions:
            raise ValueError(
                f"Template variables defined as both column context and "
                f"constants: {sorted(collisions)}"
            )


# ---------------------------------------------------------------------- #
# Dataset preparation                                                     #
# ---------------------------------------------------------------------- #


class AssignTrainTestSplitOp(TrainTestSplitColumnType):
    """Deterministic "train"/"test" labels.

    ``method="rng"``: positional sampling with CPython
    ``random.Random(random_state).sample`` — bit-for-bit parity with the
    reference (``local_arrow_runner.py:538-620``): test count = ceil for float
    sizes, train = floor, default test fraction 0.25.
    ``method="hash"``: salted multiplicative hash of the stable row id —
    fully distributed (the 100-TB path), same size semantics in expectation.
    """

    dataset: DatasetType
    test_size: Union[float, int, None] = None
    train_size: Union[float, int, None] = None
    random_state: int = 42
    method: Literal["rng", "hash"] = "rng"
