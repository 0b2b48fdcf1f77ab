"""SparkRunner: lowers content-addressed OpSpec graphs to Spark DataFrames.

Execution model (Spark-first redesign of the reference's pull-based runner,
``runners/base_runner.py:159-258`` / ``local_arrow_runner.py:307-497``):

* **Ephemeral ops stay lazy.** Selects, predicates, filters, arithmetic lower
  to unexecuted DataFrame expressions; Catalyst fuses whole chains into one
  job with predicate pushdown and column pruning. (The reference's
  "ephemeral = recompute on demand" policy maps exactly onto laziness.)
* **Non-ephemeral ops are materialization barriers.** Their DataFrame is
  written once to a UUID-keyed parquet store and re-read lazily; any process
  sharing the store reuses results (content-addressed memoization — the one
  optimizer feature Catalyst does not provide).
* **Stable row ids everywhere** (see ``plan.py``): assigned at scan by
  ``_scan_row_ids`` (parquet ``_metadata.row_index``, a monotonic id for
  the other file formats), carried through every op, used for alignment
  and canonical export order.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import random
import stat
import time
from typing import Any, Optional, Union

import pandas as pd

from pyspark import SparkConf, SparkContext
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dataset_ops import (
    AssignRowIDOp,
    AssignTrainTestSplitOp,
    BooleanLogicOp,
    CategoryToBooleanOp,
    JinjaTemplatizeOp,
    JSONGetFieldOp,
    LoadAvroDatasetOp,
    LoadCSVDatasetOp,
    LoadDatasetOp,
    LoadFileDatasetOp,
    LoadInlineJsonDatasetOp,
    LoadJSONLinesDatasetOp,
    LoadORCDatasetOp,
    LoadParquetDatasetOp,
    LoadTextLinesDatasetOp,
    MaskRowsOp,
    PairwiseArithmeticOp,
    ParseJSONColumnOp,
    SelectColumnOp,
    TakeRowsOp,
    VectorToScalarOp,
)
from ..functions.partitioning import (
    _same_host_master,
    _sized_master,
    pin,
)
from ..logging import get_logger
from ..operators.grouped_ops import GroupedOp
from ..plans.op_spec import OpSpec
from ..plans.status import OpState, OpStatus, utcnow
from ..types import JSONColumnType
from .base import BaseRunner
from .plan import (
    JSON_VALUE_TYPES,
    ROW_ID,
    VALUE,
    ArtifactPlan,
    ColumnPlan,
    DatasetPlan,
    json_text,
)
from .store import ResultStore

_FILE_ORD_SHIFT = 40  # multi-file scans: row_id = file_ordinal << 40 | row_index


def get_spark(app_name: str = "krnel-graph-spark") -> SparkSession:
    """Build (or reuse) a session with the engine's defaults: AQE on, UTC
    timestamps, Arrow transfer on, zstd parquet output. The master is the
    one Spark resolved (``SPARK_GRAFT_CPUS`` only sizes a local master);
    the master-dependent defaults follow its class, and no default
    replaces a value the user gave Spark."""
    # Start the JVM first, so the master and the user's conf can be read
    # before any default is chosen. local[N] runs all executor threads
    # inside the driver JVM; the 1g default heap GC-thrashes 32 concurrent
    # tasks, while a huge heap makes full GCs take tens of seconds late in
    # long sessions — 16g balances both. The console progress bar is off
    # at launch too: spark-submit turns it on for pyspark otherwise. (No-op
    # if the JVM is already up, e.g. under spark-submit.)
    launch = SparkConf(loadDefaults=False)
    launch.set("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    launch.set("spark.ui.showConsoleProgress", "false")
    SparkContext._ensure_initialized(conf=launch)
    # The launch's system properties: what the user gave Spark through
    # spark-submit, PYSPARK_SUBMIT_ARGS or spark-defaults.
    given = SparkContext._jvm.org.apache.spark.SparkConf(True)
    active = SparkContext._active_spark_context
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = active.master if active else _sized_master(given.get("spark.master"), cpus)
    same_host = _same_host_master(master)
    defaults = {
        # Back-compat for TIMESTAMP(NANOS) parquet (read as nanosecond longs,
        # converted at use sites by with_event_time); harmless on µs files.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Let AQE coalesce the FINAL stage of persisted frames too
        # (default false only to keep a cached plan's output
        # partitioning reusable by downstream joins). This engine's
        # persists are multi-consumer signature/type tables whose
        # consumers re-shuffle anyway, so the reuse never applies —
        # while the default stored every model-bounded cache at the
        # full shuffle-partition count and every InMemoryTableScan
        # launched that many tasks (guide §2.2: fewer, larger
        # partitions). Measured r14: -25% on the order-5 KN family,
        # -49% kn3_arpa, -30% arpa_score, -16% minhash_pairs, no
        # regressions (OPTIMIZATION_r14.md); sizes stay byte-adaptive
        # at scale because AQE's advisory size does the coalescing.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
    }
    if same_host:
        # Python workers fork from the engine's daemon, which skips the
        # per-task re-read of pyspark.zip (see worker_daemon.py). The
        # package root goes on the workers' path, so the daemon and the
        # UDFs import from any driver working directory. Executors on
        # another host may not have the package.
        defaults["spark.python.daemon.module"] = f"{__package__}.worker_daemon"
        defaults["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in defaults.items():
        if not given.contains(key):
            builder = builder.config(key, value)
    spark = builder.getOrCreate()
    if same_host and active is None and not given.contains("spark.sql.shuffle.partitions"):
        # Only for a context this call created: a later call must not
        # replace a value set on the running session.
        # Tied to the session's cores, floored at the former constant 32.
        # 2 x cores was measured and rejected in r15: +20% arpa_score_o5 at
        # local[32]/sf0.1, no win beyond noise (OPTIMIZATION_r15.md).
        shuffle_partitions = max(32, spark.sparkContext.defaultParallelism)
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


@contextlib.contextmanager
def _translate_runtime_errors():
    """Map inline raise_error guards (lazy bounds checks) back to the
    documented Python exception, on every materialization path — exports
    AND user-directed sinks — so the error contract does not depend on
    which sink ran the plan."""
    try:
        yield
    except IndexError:
        raise
    except Exception as exc:
        if "out of bounds for vector" in str(exc):
            raise IndexError(str(exc).split("SQLSTATE")[0].strip()) from None
        raise


class SparkRunner(BaseRunner):
    """Execution engine + result store + status store."""

    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        store_path: Optional[str] = None,
    ):
        self.spark = spark or get_spark()
        self.store = ResultStore(store_path) if store_path else None
        self._plans: dict[str, Any] = {}  # uuid -> lowered plan (lazy DFs)

    # ------------------------------------------------------------------ #
    # Graph-building entry points                                         #
    # ------------------------------------------------------------------ #

    def from_parquet(self, file_path: str) -> LoadParquetDatasetOp:
        """Dataset identified by file content (sha256), not by path — parity
        with reference ``local_arrow_runner.py:154-198``. A directory's
        identity hashes the content digest of every file under it, with
        its relative path; a remote URL's identity is the URL string
        itself. Digests are memoized per process under each file's stat,
        so an unchanged source costs one stat per file. Every ``from_*``
        file source follows this rule (``_content_identity``)."""
        return _file_source(LoadParquetDatasetOp, file_path)

    def from_inline_dataset(self, data: dict[str, list]) -> LoadInlineJsonDatasetOp:
        return LoadInlineJsonDatasetOp(
            data=data, content_hash=_inline_identity(data)
        )

    def from_csv(
        self,
        file_path: str,
        schema: Optional[str] = None,
        header: bool = True,
        delimiter: str = ",",
    ) -> LoadCSVDatasetOp:
        return _file_source(
            LoadCSVDatasetOp,
            file_path,
            schema_ddl=schema,
            header=header,
            delimiter=delimiter,
        )

    def from_json_lines(
        self, file_path: str, schema: Optional[str] = None
    ) -> LoadJSONLinesDatasetOp:
        return _file_source(LoadJSONLinesDatasetOp, file_path, schema_ddl=schema)

    def from_orc(self, file_path: str) -> LoadORCDatasetOp:
        return _file_source(LoadORCDatasetOp, file_path)

    def from_avro(
        self, file_path: str, schema: Optional[str] = None
    ) -> LoadAvroDatasetOp:
        return _file_source(LoadAvroDatasetOp, file_path, schema_ddl=schema)

    def from_text(
        self, file_path: str, column: str = "text"
    ) -> LoadTextLinesDatasetOp:
        return _file_source(LoadTextLinesDatasetOp, file_path, column=column)

    # ------------------------------------------------------------------ #
    # User-directed sinks (beyond-reference: the reference can only write  #
    # into its result store)                                               #
    # ------------------------------------------------------------------ #

    def write_parquet(
        self, op: OpSpec, path: str, sort_by_row_id: bool = False
    ) -> None:
        """Write an op's result to a caller-chosen parquet path.
        ``sort_by_row_id`` forces deterministic file order at the cost of a
        global sort — leave off for large outputs (row ids still ride along
        in the data for downstream alignment)."""
        with self._sink(op, sort_by_row_id) as df:
            df.write.mode("overwrite").parquet(path)

    def write_csv(
        self,
        op: OpSpec,
        path: str,
        sort_by_row_id: bool = False,
        header: bool = True,
    ) -> None:
        with self._sink(op, sort_by_row_id) as df:
            # CSV has no nested types: arrays/structs/maps/variants export
            # as JSON text.
            cols = [
                json_text(F.col(f.name), f.dataType).alias(f.name)
                if isinstance(f.dataType, JSON_VALUE_TYPES)
                else F.col(f.name)
                for f in df.schema.fields
            ]
            df.select(*cols).write.mode("overwrite").option("header", header).csv(
                path
            )

    def write_json_lines(
        self, op: OpSpec, path: str, sort_by_row_id: bool = False
    ) -> None:
        with self._sink(op, sort_by_row_id) as df:
            df.write.mode("overwrite").json(path)

    def write_orc(
        self, op: OpSpec, path: str, sort_by_row_id: bool = False
    ) -> None:
        with self._sink(op, sort_by_row_id) as df:
            df.write.mode("overwrite").orc(path)

    def write_avro(
        self, op: OpSpec, path: str, sort_by_row_id: bool = False,
        codec: str = "deflate",
    ) -> None:
        """Avro container sink: spark-avro jar when present, else the
        distributed pure-Python writer (one file per partition, block per
        Arrow batch) — see ``sources/avro.py``."""
        from ..sources.avro import write_avro_dataframe

        with self._sink(op, sort_by_row_id) as df:
            write_avro_dataframe(df, path, codec)

    def write_text(
        self,
        op: OpSpec,
        path: str,
        column: str,
        sort_by_row_id: bool = False,
    ) -> None:
        """Write ONE string column as raw lines (one row per line). Text
        files carry no other columns, so row ids cannot ride along — a
        round-trip re-reads with fresh positional ids; use parquet when
        alignment must survive the trip."""
        with self._sink(op, sort_by_row_id) as df:
            df.select(F.col(column).cast("string").alias("value")).write.mode(
                "overwrite"
            ).text(path)

    def write_bucketed(
        self,
        op: OpSpec,
        table: str,
        bucket_cols: list[str],
        num_buckets: int = 32,
        sort_cols: Optional[list[str]] = None,
    ) -> None:
        """Persist a result as a bucketed catalog table.

        Bucketing is the pre-shuffle investment for repeated joins/aggs on
        the same key: two tables bucketed on the join key with the same
        bucket count join with ZERO Exchange on either side (verified in
        tests), so at 100 TB the shuffle is paid once at write time, not
        per query. Spark bucketed tables require the catalog
        (``saveAsTable``), not a bare path."""
        from ..functions.partitioning import write_bucketed

        with self._sink(op, sort_by_row_id=False) as df:
            write_bucketed(df, table, bucket_cols, num_buckets, sort_cols=sort_cols)

    @contextlib.contextmanager
    def _sink(self, op: OpSpec, sort_by_row_id: bool):
        """The one path of the user-directed sinks: the body writes the op's
        frame, which keeps its row ids (in row-id order when asked), under
        the exports' error contract."""
        with _translate_runtime_errors():
            df = self.dataframe(op, keep_row_id=True)
            yield df.orderBy(ROW_ID) if sort_by_row_id else df

    def sql(self, query: str, **datasets: OpSpec) -> DataFrame:
        """ANSI-SQL entry point over materialized op graphs (additive: the
        reference has no SQL surface — SURVEY §2.9).

        Dataset ops bind as ``{name}`` template references::

            runner.sql("SELECT k, count(*) n FROM {d} GROUP BY k", d=ds)

        Spark's parameterized ``sql()`` does the binding, so Catalyst sees
        one plan (pushdown/pruning cross the SQL boundary). Returns a plain
        DataFrame: arbitrary SQL output has no stable row identity, so this
        is an exit from the content-addressed graph — feed results back in
        via ``write_parquet`` + ``from_parquet`` when memoization matters."""
        frames = {
            name: self.dataframe(op_, keep_row_id=False)
            for name, op_ in datasets.items()
        }
        return self.spark.sql(query, **frames)

    def prepare(self, op: OpSpec) -> None:
        """Push the file sources referenced by ``op``'s graph into the
        store, so runners on machines without the source files (remote
        workers sharing the store) can still materialize the graph (parity:
        reference ``local_arrow_runner.py:200-217``). The copy keeps the
        scan-assigned row ids. A prepared parquet source is row-identical
        to any scan of its file; a prepared source of another format
        serves the row ids of the scan that prepared it (see
        ``_scan_row_ids``)."""
        if self.store is None:
            raise ValueError("prepare() requires a runner with a store")
        for dep in [op, *op.get_dependencies(recursive=True)]:
            if not isinstance(dep, LoadFileDatasetOp):
                continue
            if self.store.is_done(dep.uuid):
                continue
            self._persist(dep, self.dataset_plan(dep))  # includes ROW_ID

    # ------------------------------------------------------------------ #
    # Materialization protocol                                            #
    # ------------------------------------------------------------------ #

    def plan(self, op: OpSpec) -> Union[DatasetPlan, ColumnPlan, ArtifactPlan]:
        """Lower ``op`` (and, transitively, its inputs) to a plan handle.

        Ephemeral ops: pure lowering, no jobs triggered (beyond analysis).
        Non-ephemeral ops: store hit → lazy parquet read; miss → compute,
        persist, re-read (parity with ``base_runner.py:159-235``).
        """
        cached = self._plans.get(op.uuid)
        if cached is not None:
            return cached
        if isinstance(op, LoadDatasetOp):
            # Sources are their own materialization: never copy the input
            # into the result store (a 100-TB scan must stay a scan).
            plan = self.dispatch(op)(self, op)
        elif (
            not op.is_ephemeral
            and self.store is not None
            and self.store.is_done(op.uuid)
        ):
            plan = self._load_from_store(op)
        else:
            plan = self._compute(op)
            if self.store is None:
                plan = self._pin_lazy_barrier(op, plan)
        self._plans[op.uuid] = plan
        return plan

    def _pin_lazy_barrier(self, op: OpSpec, plan):
        """Lazy mode (no store): non-ephemeral ops are STILL
        materialization barriers. Pin their frame (non-eager: computed
        on first use) so downstream OpSpec stages reference the
        materialized frame instead of re-deriving the whole upstream
        lineage. Without this, every enrichment stage that joins its
        stats back on the row id references its parent frame TWICE, so
        a k-stage fluent chain re-scans the source O(2^k) times —
        ``fluent_quality``'s executed plan had 29 FileScans for a
        4-stage chain. Store-backed mode already materializes per op
        (parquet write + re-read) and is unaffected.
        """
        if op.is_ephemeral or not isinstance(plan, DatasetPlan):
            return plan
        from dataclasses import replace

        return replace(plan, df=pin(plan.df))

    def _compute(self, op: OpSpec):
        impl = self.dispatch(op)
        persist = not op.is_ephemeral and self.store is not None
        if persist:
            log = get_logger("runners.spark").bind(
                op=type(op).__name__, uuid=op.uuid
            )
            status = OpStatus(
                uuid=op.uuid,
                state=OpState.RUNNING,
                started_at=utcnow(),
                graph=op.to_graph(),
            )
            self.store.write_status(op.uuid, status.to_json())
            log.info("materializing")
            try:
                plan = impl(self, op)
                plan = self._persist(op, plan)
            except Exception as exc:
                status.state = OpState.FAILED
                status.error = f"{type(exc).__name__}: {exc}"
                status.completed_at = utcnow()
                self.store.write_status(op.uuid, status.to_json())
                log.error("failed", error=status.error)
                raise
            status.state = OpState.COMPLETED
            status.completed_at = utcnow()
            self.store.write_status(op.uuid, status.to_json())
            log.info("completed")
            return plan
        return impl(self, op)

    def _persist(self, op: OpSpec, plan):
        """Write a computed non-ephemeral result to the store and return a
        plan backed by the stored copy (the materialization barrier)."""
        store = self.store
        if isinstance(plan, ArtifactPlan):
            write = store.write_pickle if plan.kind == "pickle" else store.write_json
            write(op.uuid, plan.payload)
        else:
            store.write_parquet(op.uuid, *_stored_frame(plan))
        store.mark_done(op.uuid)
        return plan if isinstance(plan, ArtifactPlan) else self._load_from_store(op)

    def _load_from_store(self, op: OpSpec):
        """Rebuild a stored result's plan from the store entry alone, so a
        hit plans exactly like the compute that wrote it (which reads its
        result back through here too)."""
        store = self.store
        if store.has_json(op.uuid):
            return ArtifactPlan(payload=store.read_json(op.uuid), kind="json")
        if store.has_pickle(op.uuid):
            return ArtifactPlan(payload=store.read_pickle(op.uuid), kind="pickle")
        df, facts = store.read_parquet(self.spark, op.uuid)
        # Entries written without recorded facts: their own row domain,
        # not dense.
        dense = facts.get("dense", False)
        value_cols = [c for c in df.columns if c != ROW_ID]
        from ..types import ColumnType

        if isinstance(op, ColumnType) and len(value_cols) == 1:
            name = value_cols[0]
            return ColumnPlan(
                source=df,
                expr=F.col(name),
                name=name,
                aligned_with=facts.get("aligned_with", op.uuid),
                dense=dense,
            )
        return DatasetPlan(df=df, dense=dense)

    def has_result(self, op: OpSpec) -> bool:
        """Parity with the reference's recursive ``has_result``
        (``local_arrow_runner.py:230-248``)."""
        if isinstance(op, LoadDatasetOp):
            return True  # sources are their own materialization
        if op.is_ephemeral:
            return all(self.has_result(dep) for dep in op.get_dependencies())
        if self.store is None:
            return op.uuid in self._plans
        return self.store.is_done(op.uuid)

    def status(self, op: OpSpec) -> OpStatus:
        if op.is_ephemeral:
            return OpStatus(uuid=op.uuid, state=OpState.EPHEMERAL)
        if self.store is not None:
            blob = self.store.read_status(op.uuid)
            if blob is not None:
                return OpStatus.from_json(blob)
        return OpStatus(uuid=op.uuid, state=OpState.NEW)

    def uuid_to_op(self, uuid: str) -> OpSpec:
        """Rehydrate a full OpSpec graph from the store alone (parity:
        ``local_arrow_runner.py:250-269``)."""
        if self.store is None:
            raise ValueError("uuid_to_op requires a persistent store")
        blob = self.store.read_status(uuid)
        if blob is None:
            raise KeyError(f"No status record for {uuid}")
        status = OpStatus.from_json(blob)
        if not status.graph:
            raise KeyError(f"Status for {uuid} has no embedded graph")
        from ..plans.op_spec import deserialize_graph

        roots = deserialize_graph(status.graph)
        return roots[0]

    # ------------------------------------------------------------------ #
    # Exports (canonical order: sorted by __row_id)                        #
    # ------------------------------------------------------------------ #

    def dataframe(self, op: OpSpec, *, keep_row_id: bool = False) -> DataFrame:
        """The op's result as a lazy DataFrame (unordered; Spark-native)."""
        plan = self.plan(op)
        if isinstance(plan, ArtifactPlan):
            raise TypeError(f"{op.short_name()} is an artifact, not a table")
        df = plan.df() if isinstance(plan, ColumnPlan) else plan.df
        if isinstance(op, JSONColumnType):
            text = json_text(F.col(plan.name), df.schema[plan.name].dataType)
            df = df.select(ROW_ID, text.alias(plan.name))
        if not keep_row_id:
            df = df.drop(ROW_ID)
        return df

    def _ordered(self, op: OpSpec) -> DataFrame:
        """The op's export frame: rows in row-id order, ids dropped."""
        return self.dataframe(op, keep_row_id=True).orderBy(ROW_ID).drop(ROW_ID)

    def to_pandas(self, op: OpSpec) -> pd.DataFrame:
        df = self._ordered(op)
        with _translate_runtime_errors():
            return df.toPandas()

    def to_arrow(self, op: OpSpec):
        """The export as an Arrow table, with Spark's column types."""
        df = self._ordered(op)
        with _translate_runtime_errors():
            return df.toArrow()

    def to_numpy(self, op: OpSpec):
        import numpy as np

        pdf = self.to_pandas(op)
        if len(pdf.columns) != 1:
            raise ValueError(
                f"to_numpy expects a single-column result, got {list(pdf.columns)}"
            )
        series = pdf[pdf.columns[0]]
        if len(series) and isinstance(series.iloc[0], (list, tuple, np.ndarray)):
            return np.stack([np.asarray(v) for v in series])
        return series.to_numpy()

    def to_json(self, op: OpSpec) -> Any:
        plan = self.plan(op)
        if isinstance(plan, ArtifactPlan):
            return plan.payload
        return self.to_pandas(op).to_dict(orient="list")

    def to_model(self, op: OpSpec) -> Any:
        plan = self.plan(op)
        if not isinstance(plan, ArtifactPlan):
            raise TypeError(f"{op.short_name()} is not a model artifact")
        return plan.payload

    # ------------------------------------------------------------------ #
    # Alignment combinators (the row-discipline core)                     #
    # ------------------------------------------------------------------ #

    def column_plan(self, op: OpSpec) -> ColumnPlan:
        plan = self.plan(op)
        if not isinstance(plan, ColumnPlan):
            raise TypeError(f"Expected a column op, got {op.short_name()}")
        return plan

    def dataset_plan(self, op: OpSpec) -> DatasetPlan:
        plan = self.plan(op)
        if not isinstance(plan, DatasetPlan):
            raise TypeError(f"Expected a dataset op, got {op.short_name()}")
        return plan

    def align_columns(self, *plans: ColumnPlan) -> tuple[DataFrame, list[Column]]:
        """Put columns side by side, row by row — the one alignment rule.

        * One shared source frame: fuse the raw expressions — no join, one
          codegen stage, filters still push down to the scan.
        * One shared row domain (``aligned_with``) over different frames
          (a mapInPandas/driver-side op replaced the source, e.g. LLM
          outputs, UMAP coords): equi-join on ``__row_id`` — the ids
          already correspond, so no rank pass.
        * Otherwise (reference §1.5 positional semantics): zip by rank
          over row-id order after one equal-length check.

        Columns sharing a frame are selected from it together, so each
        distinct frame is joined (or ranked) once. Returns the frame and
        one expression per plan, in order. Its rows carry the first
        plan's row ids, domain and density."""
        by_source: dict[int, list[int]] = {}
        for i, p in enumerate(plans):
            by_source.setdefault(id(p.source), []).append(i)
        if len(by_source) == 1:
            return plans[0].source, [p.expr for p in plans]
        frames = [
            plans[ix[0]].source.select(
                ROW_ID, *(plans[i].expr.alias(f"__a{i}") for i in ix)
            )
            for ix in by_source.values()
        ]
        if all(p.aligned_with == plans[0].aligned_with for p in plans):
            df = frames[0]
            for frame in frames[1:]:
                df = df.join(frame, ROW_ID)
        else:
            df = self._rank_zip(*frames)
        return df, [F.col(f"__a{i}") for i in range(len(plans))]

    def _rank_zip(self, *frames: DataFrame) -> DataFrame:
        """Zip ``(__row_id, ...)`` frames by rank over row-id order, keeping
        the first frame's ids. The rank passes' counts are the one
        equal-length check."""
        ranked = [self._ranked_with_count(f) for f in frames]
        lengths = [n for _, n in ranked]
        if len(set(lengths)) > 1:
            raise ValueError(
                f"Positional combination of columns with different lengths: "
                f"{' vs '.join(map(str, lengths))}"
            )
        df = ranked[0][0]
        for r, _ in ranked[1:]:
            df = df.join(r.drop(ROW_ID), "__rank")
        return df.drop("__rank")

    def ranked(self, df: DataFrame) -> DataFrame:
        """Attach a 0-based global rank ``__rank`` in ROW_ID order — the
        moral equivalent of ``RDD.zipWithIndex``, kept JVM-side."""
        return self._ranked_with_count(df)[0]

    def _ranked_with_count(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Distributed global rank with a DETERMINISTIC partitioning.

        ``repartitionByRange`` is unusable here: its range boundaries come
        from reservoir sampling seeded per-job, so the tiny count job and
        the consuming job could place rows in different partitions —
        silently corrupting every positional path (rank-zip joins, masks,
        non-dense takes). Instead, bucket boundaries are QUANTILES of the
        row-id distribution, collected ONCE on the driver and embedded as
        literals: every job then recomputes the same bucket for the same
        row-id value by construction, regardless of how the boundaries
        were estimated. Quantile boundaries (not fixed-width ranges over
        [min, max]) matter because multi-file row ids are sparse —
        ``file_ordinal << 40 | row_index`` — where equal-width buckets
        collapse to ~one bucket per file and would hand a whole file's
        rows to one window task. One quantile pass, one per-bucket count
        pass → offsets; the final plan ranks within buckets (Catalyst
        hash-clusters on the bucket expression, value-deterministic) and
        adds the offset. No single-partition global window and no bucket
        larger than ~2× the balanced share, at any id distribution.

        Returns ``(ranked_df, row_count)`` so callers needing the length
        (equal-length checks) don't pay another pass."""
        n_rows = df.count()
        if n_rows == 0:
            return df.withColumn("__rank", F.lit(0).cast("long")), 0
        n_part = max(self.spark.sparkContext.defaultParallelism, 1)
        probs = [i / n_part for i in range(1, n_part)]
        # Cast to double for approxQuantile; cut points need only be
        # monotonic, so the double rounding of >2^53 ids is harmless —
        # comparisons below happen on exact longs.
        bounds = sorted(
            {
                int(b)
                for b in df.select(F.col(ROW_ID).cast("double").alias("__d"))
                .approxQuantile("__d", probs, 1.0 / (4 * n_part))
            }
        )
        bucket = _bucket_of(F.col(ROW_ID), bounds)
        sizes = {
            int(row["__b"]): int(row["count"])
            for row in df.select(bucket.alias("__b")).groupBy("__b").count().collect()
        }
        offsets: dict[int, int] = {}
        acc = 0
        for b in sorted(sizes):
            offsets[b] = acc
            acc += sizes[b]
        offmap = F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])
        w = Window.partitionBy("__b").orderBy(ROW_ID)
        out = (
            df.withColumn("__b", bucket)
            .withColumn(
                "__rank",
                (F.row_number().over(w) - 1).cast("long") + offmap[F.col("__b")],
            )
            .drop("__b")
        )
        return out, n_rows


def _bucket_of(col, bounds: list[int], lo: int = 0, hi: Optional[int] = None):
    """``#{i : bounds[i] <= value}`` as a balanced comparison tree over the
    sorted literal boundaries — depth ``log2(len(bounds))`` whens, fully
    codegen-able, no higher-order functions."""
    if hi is None:
        hi = len(bounds)
    if lo == hi:
        return F.lit(lo).cast("long")
    mid = (lo + hi) // 2
    return F.when(col < F.lit(bounds[mid]), _bucket_of(col, bounds, lo, mid)).otherwise(
        _bucket_of(col, bounds, mid + 1, hi)
    )


def _stored_frame(plan: Union[DatasetPlan, ColumnPlan]) -> tuple[DataFrame, dict]:
    """The frame to store for ``plan`` and the facts a reload needs to
    plan like the compute: a column's row domain, and density. They are
    always set here, never inherited from a stored upstream."""
    if isinstance(plan, ColumnPlan):
        return plan.df(), {"aligned_with": plan.aligned_with, "dense": plan.dense}
    return plan.df, {"dense": plan.dense}


def _file_source(cls: type, file_path: str, **params) -> LoadFileDatasetOp:
    """A file-source op of type ``cls``, identified by the content of
    ``file_path`` and its reader ``params``."""
    return cls(file_path=file_path, content_hash=_content_identity(file_path), **params)


# Process-wide memo of file digests, keyed by the file's stat:
# (st_dev, st_ino, st_size, st_mtime_ns, st_ctime_ns) -> sha256 hex.
_DIGESTS: dict[tuple[int, int, int, int, int], str] = {}
# Git's "racily clean" rule: a digest is memoized only if the file's mtime
# and ctime are this much older than the moment its hash started, so a
# rewrite inside one timestamp tick is hashed again, never served stale.
_RACY_NS = 2_000_000_000


def _content_identity(file_path: str) -> str:
    """The one identity rule of file sources. A file is its content's
    sha256; a directory is the sha256 of its sorted ``relpath:digest``
    lines, one per file. Each file digest is memoized under its stat, so
    a hit costs one stat per file. A remote URL is the URL string (no
    listing is made)."""
    try:
        st = os.stat(file_path)
    except OSError:
        if "://" not in file_path:
            raise FileNotFoundError(
                f"No such file or directory: {file_path!r}"
            ) from None
        # Remote URL: a documented deviation from content identity.
        return hashlib.sha256(file_path.encode()).hexdigest()
    if not stat.S_ISDIR(st.st_mode):
        return _file_digest(file_path, st)
    lines = []
    for root, _dirs, files in os.walk(file_path):
        for name in files:
            full = os.path.join(root, name)
            rel = os.path.relpath(full, file_path)
            lines.append(f"{rel}:{_file_digest(full, os.stat(full))}\n")
    return hashlib.sha256("".join(sorted(lines)).encode()).hexdigest()


def _file_digest(path: str, st: os.stat_result) -> str:
    """sha256 of the file at ``path``, whose stat is ``st``: read once per
    stat key, and again while the file is inside the racy window."""
    key = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
    digest = _DIGESTS.get(key)
    if digest is not None:
        return digest
    started = time.time_ns()
    with open(path, "rb") as f:
        digest = hashlib.file_digest(f, "sha256").hexdigest()
    if max(st.st_mtime_ns, st.st_ctime_ns) <= started - _RACY_NS:
        _DIGESTS[key] = digest
    return digest


def _inline_identity(data: dict[str, list]) -> str:
    blob = json.dumps(data, sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()


# ====================================================================== #
# Implementations: sources                                                #
# ====================================================================== #


def _file_scan(
    runner: SparkRunner, op: LoadFileDatasetOp, read, *, row_index: bool = False
) -> DatasetPlan:
    """The one lowering rule of file sources. A local path that is gone is
    served from the store copy ``prepare()`` pushed (it carries the row ids
    of the scan that prepared it), or raises ``FileNotFoundError``.
    Otherwise ``read(path)`` scans the source and ``_scan_row_ids`` numbers
    its rows."""
    if not os.path.exists(op.file_path) and "://" not in op.file_path:
        if runner.store is not None and runner.store.is_done(op.uuid):
            return runner._load_from_store(op)
        raise FileNotFoundError(
            f"{op.file_path!r} not found locally and not prepared into the store"
        )
    return _scan_row_ids(read(op.file_path), row_index=row_index)


def _scan_row_ids(df: DataFrame, *, row_index: bool) -> DatasetPlan:
    """Attach stable scan-time row ids — the one rule for every file source.

    * A scan that already carries a ``__row_id`` column (written by a
      ``write_*`` sink) re-adopts those ids, so a round trip through a
      user-directed sink keeps row identity.
    * ``row_index`` (parquet, the only file source whose ``_metadata``
      has a ``row_index`` on Spark 4.1): the in-file row position. One
      file → dense; several → ``file_ordinal << 40 | row_index``. No
      shuffle, no window, reproducible across runs.
    * Every other format: ``monotonically_increasing_id`` — unique and
      stable for a fixed file set and session conf. A one-partition scan
      (one small file, the interactive case) gets dense ids 0..n-1 in file
      order; a split scan gets stable ids that are not in file order
      (Spark schedules splits largest-first). Convert to parquet
      (``runner.write_parquet``) when file-ordered positions matter at
      scale."""
    if ROW_ID in df.columns:
        return DatasetPlan(df=df, dense=False)
    if not row_index:
        with_id = df.select(F.monotonically_increasing_id().alias(ROW_ID), *df.columns)
        return DatasetPlan(df=with_id, dense=with_id.rdd.getNumPartitions() <= 1)
    files = sorted(df.inputFiles())
    if len(files) <= 1:
        with_id = df.select(F.col("_metadata.row_index").alias(ROW_ID), *df.columns)
        return DatasetPlan(df=with_id, dense=True)
    mapping = F.create_map(
        *[x for i, f in enumerate(files) for x in (F.lit(f), F.lit(i))]
    )
    with_id = df.select(
        (
            F.element_at(mapping, F.col("_metadata.file_path")).cast("long")
            * F.lit(1 << _FILE_ORD_SHIFT)
            + F.col("_metadata.row_index")
        ).alias(ROW_ID),
        *df.columns,
    )
    return DatasetPlan(df=with_id, dense=False)


@SparkRunner.implementation
def load_parquet(runner: SparkRunner, op: LoadParquetDatasetOp) -> DatasetPlan:
    return _file_scan(runner, op, runner.spark.read.parquet, row_index=True)


@SparkRunner.implementation
def load_csv(runner: SparkRunner, op: LoadCSVDatasetOp) -> DatasetPlan:
    """An explicit ``schema_ddl`` avoids the inference pre-scan (a full
    extra read at scale); without one, inference runs once at lowering."""
    reader = runner.spark.read.option("header", op.header).option(
        "delimiter", op.delimiter
    )
    if op.schema_ddl:
        reader = reader.schema(op.schema_ddl)
    else:
        reader = reader.option("inferSchema", "true")
    return _file_scan(runner, op, reader.csv)


@SparkRunner.implementation
def load_json_lines(runner: SparkRunner, op: LoadJSONLinesDatasetOp) -> DatasetPlan:
    reader = runner.spark.read
    if op.schema_ddl:
        reader = reader.schema(op.schema_ddl)
    return _file_scan(runner, op, reader.json)


@SparkRunner.implementation
def load_orc(runner: SparkRunner, op: LoadORCDatasetOp) -> DatasetPlan:
    return _file_scan(runner, op, runner.spark.read.orc)


@SparkRunner.implementation
def load_avro(runner: SparkRunner, op: LoadAvroDatasetOp) -> DatasetPlan:
    """Through ``sources/avro.py``: the spark-avro jar when deployed, else
    the pure-Python container codec."""
    from ..sources.avro import read_avro_dataframe

    return _file_scan(
        runner, op, lambda path: read_avro_dataframe(runner.spark, path, op.schema_ddl)
    )


@SparkRunner.implementation
def load_text_lines(runner: SparkRunner, op: LoadTextLinesDatasetOp) -> DatasetPlan:
    """One row per line, the line renamed to ``op.column``."""
    return _file_scan(
        runner,
        op,
        lambda path: runner.spark.read.text(path).withColumnRenamed("value", op.column),
    )


@SparkRunner.implementation
def load_inline(runner: SparkRunner, op: LoadInlineJsonDatasetOp) -> DatasetPlan:
    import pyarrow as pa

    table = pa.table({k: pa.array(v) for k, v in op.data.items()})
    # Arrow infers null type for empty columns; Spark needs a concrete type.
    fields = []
    for f in table.schema:
        fields.append(pa.field(f.name, pa.string()) if pa.types.is_null(f.type) else f)
    table = table.cast(pa.schema(fields))
    ids = pa.array(range(table.num_rows), type=pa.int64())
    table = table.add_column(0, pa.field(ROW_ID, pa.int64()), ids)
    df = runner.spark.createDataFrame(table)
    return DatasetPlan(df=df, dense=True)


# ====================================================================== #
# Implementations: projection / row selection                             #
# ====================================================================== #


@SparkRunner.implementation
def select_column(runner: SparkRunner, op: SelectColumnOp) -> ColumnPlan:
    """One implementation serves all nine typed selects via MRO dispatch
    (parity: ``base_runner.py:204-231``)."""
    ds = runner.dataset_plan(op.dataset)
    if op.column_name not in ds.df.columns:
        raise KeyError(
            f"Column {op.column_name!r} not in dataset (has {ds.columns})"
        )
    return ColumnPlan(
        source=ds.df,
        expr=F.col(op.column_name),
        name=op.column_name,
        aligned_with=op.dataset.uuid,
        dense=ds.dense,
    )


@SparkRunner.implementation
def assign_row_id(runner: SparkRunner, op: AssignRowIDOp) -> ColumnPlan:
    ds = runner.dataset_plan(op.dataset)
    return ColumnPlan(
        source=ds.df,
        expr=F.col(ROW_ID),
        name="row_id",
        aligned_with=op.dataset.uuid,
        dense=ds.dense,
    )


@SparkRunner.implementation
def take_rows(runner: SparkRunner, op: TakeRowsOp) -> DatasetPlan:
    """``rows[offset::skip][:num_rows]``. Dense inputs use pure row-id
    arithmetic — a pushdown-friendly filter, no window, no shuffle, scales to
    any size. Non-dense inputs (row ids with gaps, e.g. after a mask) fall
    back to a rank window."""
    ds = runner.dataset_plan(op.dataset)
    df = ds.df
    if ds.dense:
        key = F.col(ROW_ID)
    else:
        df = runner.ranked(df)
        key = F.col("__rank")
    cond = (key >= op.offset) & ((key - op.offset) % op.skip == 0)
    if op.num_rows is not None:
        cond = cond & (key < op.offset + op.num_rows * op.skip)
    out = df.filter(cond)
    if not ds.dense:
        out = out.drop("__rank")
    dense = ds.dense and op.skip == 1 and op.offset == 0
    return DatasetPlan(df=out, dense=dense)


@SparkRunner.implementation
def mask_rows(runner: SparkRunner, op: MaskRowsOp) -> DatasetPlan:
    """Filter by a row-aligned boolean column. Same-dataset masks fuse into a
    plain ``Filter`` over the scan (predicate pushdown applies); masks of the
    same row domain on another frame join on the row id; masks from a
    *different* same-length dataset use the positional rank-zip."""
    ds = runner.dataset_plan(op.dataset)
    mask = runner.column_plan(op.mask)
    _require_boolean(mask)
    # The dataset's rows ride through the aligner as one struct column.
    rows = ColumnPlan(
        source=ds.df,
        expr=F.struct(F.col("*")),
        name="__rows",
        aligned_with=op.dataset.uuid,
        dense=ds.dense,
    )
    df, (row, keep) = runner.align_columns(rows, mask)
    out = df.filter(keep).select(row.alias("__rows")).select("__rows.*")
    return DatasetPlan(df=out, dense=False)


# ====================================================================== #
# Implementations: predicates & scalar functions                          #
# ====================================================================== #


@SparkRunner.implementation
def category_to_boolean(runner: SparkRunner, op: CategoryToBooleanOp) -> ColumnPlan:
    col = runner.column_plan(op.input_category)
    dtype = col.df().schema[col.name].dataType
    expr = col.expr if isinstance(dtype, T.StringType) else col.expr.cast("string")
    if op.true_values is not None and op.false_values is not None:
        union = sorted(set(op.true_values) | set(op.false_values))
        bad = col.source.filter(~expr.isin(union) & expr.isNotNull()).limit(1)
        rows = bad.collect()
        if rows:
            raise ValueError(
                f"Column contains values outside true_values ∪ false_values "
                f"(e.g. {rows[0][col.name]!r})"
            )
        out = expr.isin(sorted(op.true_values))
    elif op.true_values is not None:
        out = expr.isin(sorted(op.true_values))
    else:
        out = ~expr.isin(sorted(op.false_values))
    return col.derive(out)


def _require_boolean(plan: ColumnPlan) -> None:
    dtype = plan.df().schema[plan.name].dataType
    if not isinstance(dtype, T.BooleanType):
        raise TypeError(f"Expected a boolean column, got {dtype.simpleString()}")


@SparkRunner.implementation
def boolean_logic(runner: SparkRunner, op: BooleanLogicOp) -> ColumnPlan:
    left = runner.column_plan(op.left)
    _require_boolean(left)
    if op.operation == "not":
        return left.derive(~left.expr)
    right = runner.column_plan(op.right)
    _require_boolean(right)
    df, (l, r) = runner.align_columns(left, right)
    combined = {"and": l & r, "or": l | r, "xor": l != r}[op.operation]
    return left.derive(combined, source=df)


@SparkRunner.implementation
def pairwise_arithmetic(runner: SparkRunner, op: PairwiseArithmeticOp) -> ColumnPlan:
    left = runner.column_plan(op.left)
    right = runner.column_plan(op.right)
    df, (l, r) = runner.align_columns(left, right)
    l, r = l.cast("double"), r.cast("double")
    if op.operation == "+":
        expr = l + r
    elif op.operation == "-":
        expr = l - r
    elif op.operation == "*":
        expr = l * r
    else:
        # numpy float semantics: x/0 → ±inf, 0/0 → nan (Spark yields null).
        expr = (
            F.when(r != 0.0, l / r)
            .when(l > 0.0, F.lit(float("inf")))
            .when(l < 0.0, F.lit(float("-inf")))
            .otherwise(F.lit(float("nan")))
        )
    return left.derive(expr, source=df)


@SparkRunner.implementation
def vector_to_scalar(runner: SparkRunner, op: VectorToScalarOp) -> ColumnPlan:
    col = runner.column_plan(op.input)
    # Bounds check rides the real job as an inline raise_error guard —
    # building the plan must trigger NO Spark job (an eager min(size)
    # aggregate here would force a full column scan per .col(i) call at
    # graph-build time, a driver-blocking pass at 100-TB scale).
    idx = op.col_index
    guarded = F.when(
        F.size(col.expr) <= F.lit(idx),
        F.raise_error(
            F.concat(
                F.lit(f"col_index {idx} out of bounds for vector of size "),
                F.size(col.expr).cast("string"),
            )
        ).cast("double"),
    ).otherwise(F.element_at(col.expr, idx + 1).cast("double"))
    return col.derive(guarded)


@SparkRunner.implementation
def parse_json_column(runner: SparkRunner, op: ParseJSONColumnOp) -> ColumnPlan:
    col = runner.column_plan(op.input)
    return col.derive(F.parse_json(col.expr))  # strict: invalid JSON errors (parity)


@SparkRunner.implementation
def json_get_field(runner: SparkRunner, op: JSONGetFieldOp) -> ColumnPlan:
    col = runner.column_plan(op.input)
    dtype = col.dtype
    if isinstance(dtype, T.VariantType):
        expr = F.try_variant_get(col.expr, f"$.{op.path}", "string")
    else:
        expr = F.get_json_object(json_text(col.expr, dtype), f"$.{op.path}")
    return col.derive(expr)


@SparkRunner.implementation
def jinja_templatize(runner: SparkRunner, op: JinjaTemplatizeOp) -> ColumnPlan:
    """Arrow-batched pandas UDF running a real Jinja2 environment (template
    conditionals/loops/filters make SQL translation unfaithful; parity:
    ``local_arrow_runner.py:869-931``)."""
    import jinja2

    names = sorted(op.context)
    if not names:
        raise ValueError("template requires at least one column variable")
    plans = [runner.column_plan(op.context[k]) for k in names]
    json_vars = {k for k, v in op.context.items() if isinstance(v, JSONColumnType)}
    df, cols = runner.align_columns(*plans)
    exprs = [
        json_text(c, p.dtype) if k in json_vars else c
        for k, p, c in zip(names, plans, cols)
    ]

    # Per-row Jinja rendering is CPU-bound: a sizeable parquet source can
    # still arrive as ONE input split (= one busy core across the whole
    # cluster), so widen narrow scans before the UDF — size-gated, because
    # repartitioning a tiny table costs more than the parallelism buys.
    from ..functions.partitioning import widen_if_heavy

    df = widen_if_heavy(df)

    template_src = op.template
    constants = dict(op.constants)
    max_length = op.max_length

    @F.pandas_udf(T.StringType())
    def render(*cols: pd.Series) -> pd.Series:
        import json as _json

        env = jinja2.Environment(undefined=jinja2.StrictUndefined)
        env.filters["drop_nulls"] = lambda xs: [x for x in xs if x is not None]
        env.filters["repr"] = repr
        tmpl = env.from_string(template_src)
        out = []
        for row in zip(*cols):
            ctx = dict(constants)
            for k, v in zip(names, row):
                ctx[k] = _json.loads(v) if k in json_vars and v is not None else v
            text = tmpl.render(**ctx)
            if max_length is not None:
                text = text[:max_length]
            out.append(text)
        return pd.Series(out, dtype="object")

    return plans[0].derive(render(*exprs), source=df)


# ====================================================================== #
# Implementations: dataset preparation                                    #
# ====================================================================== #


@SparkRunner.implementation
def assign_train_test_split(
    runner: SparkRunner, op: AssignTrainTestSplitOp
) -> ColumnPlan:
    ds = runner.dataset_plan(op.dataset)

    if op.method == "hash":
        from ..functions.hashing import md5_long

        frac = _test_fraction(op)
        # md5-based salted hash (not xxhash64) so the split is reproducible
        # in any engine — the DuckDB oracle recomputes it exactly.
        bucket = F.pmod(
            md5_long(
                F.concat(F.col(ROW_ID).cast("string"), F.lit(f":{op.random_state}"))
            ),
            F.lit(1_000_000),
        )
        expr = F.when(bucket < int(frac * 1_000_000), F.lit("test")).otherwise(
            F.lit("train")
        )
        return ColumnPlan(
            source=ds.df, expr=expr, name=VALUE,
            aligned_with=op.dataset.uuid, dense=ds.dense,
        )

    # RNG parity mode: CPython random.Random(seed).sample over row positions
    # (reference ``local_arrow_runner.py:538-620``). O(n) driver memory by
    # design — use method="hash" at data scale.
    total = ds.df.count()
    n_train, n_test = _resolve_split_counts(op, total)
    rng = random.Random(op.random_state)
    test_idx = set(rng.sample(range(total), n_test)) if n_test else set()
    labels = ["test" if i in test_idx else "train" for i in range(total)]

    if total == 0:
        empty = runner.spark.createDataFrame(
            [], schema=T.StructType(
                [T.StructField(ROW_ID, T.LongType()), T.StructField(VALUE, T.StringType())]
            )
        )
        return ColumnPlan(
            source=empty, expr=F.col(VALUE), name=VALUE,
            aligned_with=op.dataset.uuid, dense=True,
        )

    if ds.dense:
        ids = range(total)
    else:
        ids = [r[0] for r in ds.df.select(ROW_ID).orderBy(ROW_ID).collect()]
    assign_pdf = pd.DataFrame({ROW_ID: list(ids), VALUE: labels})
    assign_df = runner.spark.createDataFrame(assign_pdf)
    joined = ds.df.select(ROW_ID).join(F.broadcast(assign_df), ROW_ID)
    return ColumnPlan(
        source=joined, expr=F.col(VALUE), name=VALUE,
        aligned_with=op.dataset.uuid, dense=ds.dense,
    )


def _test_fraction(op: AssignTrainTestSplitOp) -> float:
    if op.test_size is None and op.train_size is None:
        return 0.25
    if op.test_size is not None:
        if isinstance(op.test_size, float):
            if not 0 < op.test_size < 1:
                raise ValueError("test_size as float must be in (0, 1)")
            return op.test_size
        raise ValueError("hash split requires float sizes")
    if isinstance(op.train_size, float):
        if not 0 < op.train_size < 1:
            raise ValueError("train_size as float must be in (0, 1)")
        return 1.0 - op.train_size
    raise ValueError("hash split requires float sizes")


def _resolve_split_counts(op: AssignTrainTestSplitOp, total: int) -> tuple[int, int]:
    """Reference size semantics: float test → ceil, float train → floor;
    ints must fit; specified train+test must equal n; default test = 0.25."""

    def normalize(name: str, value) -> int:
        if isinstance(value, bool):
            raise TypeError(f"{name}_size must be float or int, got bool")
        if isinstance(value, float):
            if not 0 < value < 1:
                raise ValueError(
                    f"{name}_size as float must be in (0, 1); got {value}"
                )
            scaled = math.ceil(value * total) if name == "test" else math.floor(
                value * total
            )
            return min(scaled, total)
        if isinstance(value, int):
            if value < 0 or value > total:
                raise ValueError(
                    f"{name}_size must be between 0 and {total}; got {value}"
                )
            return value
        raise TypeError(f"Unsupported {name}_size type: {type(value).__name__}")

    if total == 0:
        return 0, 0
    if op.test_size is None and op.train_size is None:
        n_test = math.ceil(0.25 * total)
        return total - n_test, n_test
    n_test = normalize("test", op.test_size) if op.test_size is not None else None
    n_train = normalize("train", op.train_size) if op.train_size is not None else None
    if n_test is None:
        n_test = total - n_train
    elif n_train is None:
        n_train = total - n_test
    if n_test < 0 or n_train < 0:
        raise ValueError(
            f"Split sizes produced negative allocations (train={n_train}, test={n_test})"
        )
    if n_train + n_test != total:
        if op.test_size is not None and op.train_size is not None:
            raise ValueError(
                f"train_size ({n_train}) + test_size ({n_test}) must equal "
                f"dataset size ({total})"
            )
        n_train = total - n_test
    return n_train, n_test



@SparkRunner.implementation
def grouped(runner: SparkRunner, op: GroupedOp):
    plan = None
    for sub in op.ops:
        plan = runner.plan(sub)
    return plan


# Register the ML / LLM / viz / scale implementation modules (import side
# effects).
from . import classifier_impl as _classifier_impl  # noqa: E402,F401
from . import llm_impl as _llm_impl  # noqa: E402,F401
from . import scale_impl as _scale_impl  # noqa: E402,F401
from . import viz_impl as _viz_impl  # noqa: E402,F401
