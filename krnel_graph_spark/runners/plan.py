"""Lowered-plan handles: what an OpSpec becomes on the Spark side.

The central scale decision: column operators do NOT materialize single-column
tables (the reference's model, ``local_arrow_runner.py:331-339``). Instead a
lowered column is a *Catalyst expression over its source DataFrame*
(:class:`ColumnPlan`). ``SparkRunner.align_columns`` is the one rule for
combining columns row by row: expressions over one source frame fuse (zero
joins, one whole-stage-codegen'd scan); columns of one row domain
(``aligned_with``) on different frames equi-join on ``__row_id``; anything
else is zipped by rank (positional semantics) after one equal-length check.

Row discipline: every dataset DataFrame carries a stable ``__row_id`` column
assigned at scan time (parquet ``_metadata.row_index`` + file ordinal — no
shuffle, reproducible across recomputation). Filters keep original ids;
exports sort by id.

A plan keeps only the row facts it cannot derive. A dataset's row domain
is the uuid of the op it lowers, so a :class:`DatasetPlan` records only
``dense``. A column records the row domain it is aligned with and
``dense``; a column computed row by row from another takes both from it
(:meth:`ColumnPlan.derive`). A new set of rows is decided only where rows
are chosen: the store reload, the typed select, the row-id column, the
mask and the train/test split. A stored result records these facts —
``aligned_with`` (columns only) and ``dense`` — in the metadata of its
``__row_id`` field, so a store hit rebuilds exactly the plan its compute
produced. (Entries written before carry a dataset's own uuid and an
``is_json`` flag too; both are ignored.)

Whether a column is JSON is a fact of its op's type, and how it becomes
JSON text is a fact of its Spark type: :func:`json_text` is the one rule.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROW_ID = "__row_id"
VALUE = "value"

# Spark types that hold JSON as a value rather than as text.
JSON_VALUE_TYPES = (T.VariantType, T.StructType, T.ArrayType, T.MapType)


def json_text(expr: Column, dtype: T.DataType) -> Column:
    """The one JSON-text rule, decided from the column's Spark type: a
    VARIANT, struct, array or map column goes through ``to_json``; any
    other column is already text (a string column holding JSON is used
    as it is)."""
    if isinstance(dtype, JSON_VALUE_TYPES):
        return F.to_json(expr)
    return expr.cast("string")


@dataclass
class DatasetPlan:
    """A lowered multi-column dataset: ``df`` includes ``__row_id``. Its
    row domain is the uuid of the op it lowers."""

    df: DataFrame
    dense: bool = False  # row ids are exactly 0..n-1 (enables arithmetic slicing)

    @property
    def columns(self) -> list[str]:
        return [c for c in self.df.columns if c != ROW_ID]


@dataclass
class ColumnPlan:
    """A lowered single column: an expression over a source DataFrame.

    ``aligned_with`` is the uuid of the dataset node whose rows this column
    is positionally aligned with; expression fusion is legal exactly when two
    plans share it.
    """

    source: DataFrame
    expr: Column
    name: str
    aligned_with: str
    dense: bool = False

    def df(self) -> DataFrame:
        return self.source.select(ROW_ID, self.expr.alias(self.name))

    @property
    def dtype(self) -> T.DataType:
        return self.df().schema[self.name].dataType

    def derive(self, expr: Column, source: Optional[DataFrame] = None) -> "ColumnPlan":
        """A ``value`` column computed row by row from this one: ``expr``
        over ``source`` (this column's source by default). It keeps this
        column's rows: row domain and density. ``source`` must carry
        this column's row ids (an aligned frame, or a per-row map of
        the source)."""
        return ColumnPlan(
            source=self.source if source is None else source,
            expr=expr,
            name=VALUE,
            aligned_with=self.aligned_with,
            dense=self.dense,
        )


@dataclass
class ArtifactPlan:
    """A small driver-side result (trained model, metrics report)."""

    payload: Any
    kind: str = "json"  # "json" | "pickle"
