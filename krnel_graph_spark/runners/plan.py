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

A stored result records its plan's row domain, ``dense`` and ``is_json`` in
the metadata of its ``__row_id`` field, so a store hit rebuilds exactly the
plan its compute produced.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame

ROW_ID = "__row_id"
VALUE = "value"


@dataclass
class DatasetPlan:
    """A lowered multi-column dataset: ``df`` includes ``__row_id``."""

    df: DataFrame
    dataset_uuid: str  # uuid of the OpSpec node this plan materializes
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
    is_json: bool = False  # lowered as VARIANT; export via to_json

    def df(self) -> DataFrame:
        return self.source.select(ROW_ID, self.expr.alias(self.name))


@dataclass
class ArtifactPlan:
    """A small driver-side result (trained model, metrics report)."""

    payload: Any
    kind: str = "json"  # "json" | "pickle"
