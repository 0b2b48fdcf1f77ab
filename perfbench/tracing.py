"""In-memory span tracer around the engine's layer boundaries.

The tracer wraps public entry points of each layer from the benchmark's
side (the engine itself carries no tracing): while installed, every call
records a span ``(name, start, end, parent, request)``; hot properties
(``OpSpec.uuid``, node construction) only accumulate a count and the
outermost call's time. ``uninstall`` restores the original attributes, so
an untraced request runs the unmodified program.

A span's self time is its duration minus the time its child spans cover
(children of one span never overlap: the driver is single-threaded).
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable, Optional


_INHERITED = object()


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, request, attrs]
        self.counters: dict[str, float] = defaultdict(float)
        self.request: Optional[str] = None
        # copies into this root count as pushes, all others as pulls
        self.shared_root = ""
        self._stack: list[int] = []
        self._depth: dict[str, int] = defaultdict(int)
        self._patches: list[tuple[Any, str, Any]] = []

    # -- recording -------------------------------------------------------- #

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = [name, time.perf_counter(), None, parent, self.request, attrs]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        self.counters[key] += n

    def _timed(self, key: str, fn: Callable, *args, **kwargs):
        """Count the call; add its time only for the outermost call of
        ``key`` (recursive hashing would otherwise count twice)."""
        self.counters[key + "_calls"] += 1
        if self._depth[key]:
            return fn(*args, **kwargs)
        self._depth[key] += 1
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.counters[key + "_s"] += time.perf_counter() - t0
            self._depth[key] -= 1

    # -- patching ----------------------------------------------------------- #

    def _patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, owner.__dict__.get(attr, _INHERITED)))
        setattr(owner, attr, replacement)

    def _span_method(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            attrs = attrs_fn(*args, **kwargs) if attrs_fn else {}
            with tracer.span(name, **attrs):
                return original(*args, **kwargs)

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        if self._patches:
            return
        from krnel_graph_spark.plans import op_spec
        from krnel_graph_spark.runners import cached_runner, spark_runner, store
        from krnel_graph_spark.operators.dataset_ops import LoadDatasetOp

        OpSpec = op_spec.OpSpec
        SparkRunner = spark_runner.SparkRunner
        ResultStore = store.ResultStore
        Cached = cached_runner.CachedResultStore
        tracer = self

        # plans: hashing, (de)serialization, substitution
        uuid_prop = OpSpec.__dict__["uuid"]
        self._patch(
            OpSpec,
            "uuid",
            property(lambda op: tracer._timed("plans.uuid", uuid_prop.fget, op)),
        )
        self._span_method(OpSpec, "to_graph", "plans.to_graph")
        self._span_method(OpSpec, "subs", "plans.subs")
        self._span_method(op_spec, "deserialize_graph", "plans.deserialize")

        # operators: node construction (every fluent call builds one)
        base_init = OpSpec.__mro__[1].__init__

        def init(op, **data):
            tracer._timed("operators.build", base_init, op, **data)

        self._patch(OpSpec, "__init__", init)

        # runners.spark_runner: lowering, dispatch, persistence
        self._span_method(SparkRunner, "from_parquet", "spark_runner.from_parquet")
        plan = SparkRunner.__dict__["plan"]

        def traced_plan(runner, op):
            if (
                uuid_prop.fget(op) not in runner._plans
                and runner.store is not None
                and not op.is_ephemeral
                and not isinstance(op, LoadDatasetOp)
            ):
                tracer.count("store.lookups")
            with tracer.span("spark_runner.plan"):
                return plan(runner, op)

        self._patch(SparkRunner, "plan", traced_plan)
        compute = SparkRunner.__dict__["_compute"]

        def traced_compute(runner, op):
            if runner.store is not None and not op.is_ephemeral:
                tracer.count("store.misses")
            with tracer.span("spark_runner.compute"):
                return compute(runner, op)

        self._patch(SparkRunner, "_compute", traced_compute)
        self._span_method(
            SparkRunner,
            "_persist",
            "spark_runner.persist",
            lambda runner, op, *a, **k: {"op": type(op).__name__},
        )
        self._span_method(SparkRunner, "_load_from_store", "spark_runner.load")
        self._span_method(SparkRunner, "_rank_zip", "spark_runner.rank_zip")
        dispatch = SparkRunner.dispatch

        def traced_dispatch(runner, op):
            impl = dispatch(runner, op)
            name = "impl." + type(op).__name__

            def run(*args, **kwargs):
                with tracer.span(name):
                    return impl(*args, **kwargs)

            return run

        self._patch(SparkRunner, "dispatch", traced_dispatch)

        # runners.store: sidecar reads/writes
        write_status = ResultStore.__dict__["write_status"]

        def traced_write_status(st, uuid, status_json):
            tracer.count("store.status_writes")
            tracer.count("store.status_bytes", len(status_json.encode()))
            with tracer.span("store.write"):
                return write_status(st, uuid, status_json)

        self._patch(ResultStore, "write_status", traced_write_status)
        for attr in ("write_json", "write_pickle", "mark_done"):
            self._span_method(ResultStore, attr, "store.write")
        for attr in ("is_done", "read_status", "read_json", "read_pickle"):
            self._span_method(ResultStore, attr, "store.read")

        # runners.cached_runner: local hits and copies between the roots
        def local_probe(attr: str, local_path: Callable[[Any, str], str]):
            original = Cached.__dict__[attr]

            def wrapper(st, uuid, *args, **kwargs):
                tracer.count("cached.lookups")
                tracer.count("cached.local_hits", int(os.path.exists(local_path(st, uuid))))
                with tracer.span("store.read"):
                    return original(st, uuid, *args, **kwargs)

            self._patch(Cached, attr, wrapper)

        local_probe("is_done", lambda st, u: st._side_path(u, st.DONE))
        local_probe("read_status", lambda st, u: st._side_path(u, st.STATUS))
        local_probe("read_json", lambda st, u: st._side_path(u, st.JSON))
        local_probe("read_pickle", lambda st, u: st._side_path(u, st.PICKLE))
        local_probe(
            "parquet_path", lambda st, u: ResultStore.parquet_path(st, u)
        )
        for attr in ("_atomic_copy_file", "_atomic_copy_tree"):
            original = cached_runner.__dict__[attr]

            def copy(src, dst, _original=original):
                pushing = bool(tracer.shared_root) and os.path.abspath(
                    dst
                ).startswith(tracer.shared_root)
                tracer.count(
                    "cached.push_bytes" if pushing else "cached.pull_bytes",
                    tree_bytes(src),
                )
                with tracer.span("cached.copy"):
                    return _original(src, dst)

            self._patch(cached_runner, attr, copy)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            if original is _INHERITED:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    # -- aggregation -------------------------------------------------------- #

    def self_times(self, requests: Optional[set] = None) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds, self seconds."""
        child_time = [0.0] * len(self.spans)
        for name, start, end, parent, req, _ in self.spans:
            if parent is not None and end is not None:
                child_time[parent] += end - start
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "incl_s": 0.0, "self_s": 0.0})
        for i, (name, start, end, parent, req, _) in enumerate(self.spans):
            if end is None or (requests is not None and req not in requests):
                continue
            agg = out[name]
            agg["calls"] += 1
            agg["incl_s"] += end - start
            agg["self_s"] += end - start - child_time[i]
        return out

    def persist_time(self, op_class: str) -> float:
        return sum(
            end - start
            for name, start, end, _, _, attrs in self.spans
            if name == "spark_runner.persist" and attrs.get("op") == op_class
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, req, attrs in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": name,
                            "start": start,
                            "end": end,
                            "parent": parent,
                            "request": req,
                            **attrs,
                        }
                    )
                    + "\n"
                )


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def tree_files(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path))
