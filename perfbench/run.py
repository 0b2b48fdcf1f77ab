"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload memo-iterate --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
lines before it are a readable report (box, versions, every metric,
including the workload-specific ones BENCHMARK.json does not list). The
full result and, for traced runs, the spans are written under
``.perfbench/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
# Ops both workloads dispatch: their impl self times are always reported.
SHARED_IMPL_OPS = (
    "CategoryToBooleanOp",
    "ClassifierPredictOp",
    "LoadParquetDatasetOp",
    "SelectCategoricalColumnOp",
    "SelectVectorColumnOp",
    "TrainClassifierOp",
)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _program_present() -> bool:
    return os.path.isfile(os.path.join(REPO, "krnel_graph_spark", "__init__.py")) and (
        os.path.isfile(os.path.join(REPO, "__spark_entry__.py"))
    )


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile)``; with ten samples or fewer, the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def everything(out) -> list:
    """Every request of the run once (memo-iterate's pairs are timed-phase
    re-runs, lazy-analytics's run after it)."""
    measured = ([out.cold] if out.cold else []) + out.requests
    return measured + [p for p in out.pairs if not any(p is d for d in measured)]


def end_to_end(out, setup_s: float) -> dict:
    """The listed metrics are medians per request type, so they do not
    depend on how many requests of each type a cycle holds."""
    done = [d for d in out.requests if d.ok]
    lat = [d.latency for d in done]
    tail_s, tail_pct = tail(lat)
    # The repeated request: memo-iterate's re-run (a full-graph hit),
    # lazy-analytics's query.
    steady = [d.latency for d in done if d.name == "rerun"] or lat
    recompute = [d.latency for d in done if d.kind == "recompute"]
    hits = [d.latency for d in done if d.kind == "hit"]
    attempted = len(everything(out))
    failed = sum(1 for d in everything(out) if not d.ok or d.wrong) + out.wrong
    m = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (_median(steady), "s"),
        "recompute_p50_s": (_median(recompute), "s"),
        "driver_peak_rss_mb": (out.peak_rss_mb[0], "MB"),
    }
    extra = {
        "throughput_rps": (len(done) / out.phase_s, "1/s"),
        "all_p50_s": (_median(lat), "s"),
        "latency_tail_s": (tail_s, "s"),
        "latency_tail_pct": (tail_pct, "%"),
        "fail_ratio": (failed / attempted, "ratio"),
        "peak_rss_mb": (sum(out.peak_rss_mb), "MB"),
        "requests": (len(out.requests), "count"),
    }
    if hits:
        extra["hit_p50_s"] = (_median(hits), "s")
    tail_edits = [d.latency for d in done if d.kind == "tail-edit"]
    if tail_edits:
        extra["tail_edit_p50_s"] = (_median(tail_edits), "s")
    if out.cold is not None:
        extra["cold_s"] = (out.cold.latency, "s")
        extra["store_bytes_per_input_byte"] = (out.store_bytes / out.input_bytes, "ratio")
    return {"metrics": m, "extra": extra, "attempted": attempted, "failed": failed}


def per_layer(out, tracer, spark_rows: dict[str, dict], lazy_mix) -> dict:
    """Per traced request of the measured work (cold request and timed
    phase): means of counts and self times by layer."""
    traced = [d for d in ([out.cold] if out.cold else []) + out.requests if d.traced]
    k = max(len(traced), 1)
    agg = tracer.self_times({d.rid for d in traced})
    c = tracer.counters

    def self_s(name):
        return agg[name]["self_s"] / k if name in agg else 0.0

    def incl(name):
        return agg[name]["incl_s"] / k if name in agg else 0.0

    def calls(name):
        return agg[name]["calls"] / k if name in agg else 0.0

    def ratio(num, den):
        return c[num] / c[den] if c[den] else 0.0

    m = {
        "plans.uuid_s": (c["plans.uuid_s"] / k, "s"),
        "plans.uuid_calls": (c["plans.uuid_calls"] / k, "count"),
        "plans.graph_nodes": (c["operators.build_calls"] / k, "count"),
        "plans.to_graph_s": (incl("plans.to_graph"), "s"),
        "plans.deserialize_s": (incl("plans.deserialize"), "s"),
        "plans.subs_s": (incl("plans.subs"), "s"),
        "operators.build_s": (c["operators.build_s"] / k, "s"),
        "runners.spark_runner.from_parquet_s": (incl("spark_runner.from_parquet"), "s"),
        "runners.spark_runner.plan_s": (self_s("spark_runner.plan"), "s"),
        "runners.spark_runner.plan_calls": (calls("spark_runner.plan"), "count"),
        "runners.spark_runner.compute_calls": (calls("spark_runner.compute"), "count"),
        "runners.spark_runner.persist_s": (self_s("spark_runner.persist"), "s"),
        "runners.spark_runner.load_s": (self_s("spark_runner.load"), "s"),
        "runners.spark_runner.rank_zip_calls": (calls("spark_runner.rank_zip"), "count"),
        "runners.store.hit_ratio": (1 - ratio("store.misses", "store.lookups") if c["store.lookups"] else 0.0, "ratio"),
        "runners.store.status_writes": (c["store.status_writes"] / k, "count"),
        "runners.store.status_bytes": (c["store.status_bytes"] / k, "bytes"),
        "runners.store.bytes_written": (out.store_bytes / k, "bytes"),
        "runners.store.files_written": (out.store_files / k, "count"),
        "runners.store.read_s": (self_s("store.read"), "s"),
        "runners.store.write_s": (self_s("store.write"), "s"),
        "runners.cached_runner.pull_bytes": (c["cached.pull_bytes"] / k, "bytes"),
        "runners.cached_runner.push_bytes": (c["cached.push_bytes"] / k, "bytes"),
        "runners.cached_runner.copy_s": (self_s("cached.copy"), "s"),
        "runners.cached_runner.local_hit_ratio": (ratio("cached.local_hits", "cached.lookups"), "ratio"),
        "runners.classifier_impl.train_s": (
            incl("impl.TrainClassifierOp") + tracer.persist_time("TrainClassifierOp") / k,
            "s",
        ),
        "runners.llm_impl.activations_s": (
            incl("impl.LLMLayerActivationsOp") + tracer.persist_time("LLMLayerActivationsOp") / k,
            "s",
        ),
        "request.self_s": (self_s("request"), "s"),
    }
    impl_ops = {name[5:] for name in agg if name.startswith("impl.")}
    for op in sorted(impl_ops | set(SHARED_IMPL_OPS)):
        m[f"runners.spark_runner.impl_s.{op}"] = (self_s("impl." + op), "s")
    rows = [spark_rows[d.rid] for d in traced if d.rid in spark_rows]
    for key, unit in (
        ("jobs", "count"),
        ("stages", "count"),
        ("tasks", "count"),
        ("executor_run_s", "s"),
        ("shuffle_write_bytes", "bytes"),
        ("input_bytes", "bytes"),
    ):
        m[f"spark.{key}"] = (sum(r[key] for r in rows) / max(len(rows), 1), unit)
    for d in traced:
        if d.name in lazy_mix:
            m[f"query.{d.name}_s"] = (d.latency, "s")
    # Tracing overhead: throughput of traced vs untraced paired requests
    # (memo-iterate: alternate re-runs; lazy-analytics: each query once
    # traced and once untraced over two warm rounds).
    on = [d.latency for d in out.pairs if d.ok and d.traced]
    off = [d.latency for d in out.pairs if d.ok and not d.traced]
    rps_on = len(on) / sum(on) if on else 0.0
    rps_off = len(off) / sum(off) if off else 0.0
    m["trace.throughput_rps"] = (rps_on, "1/s")
    m["trace.untraced_throughput_rps"] = (rps_off, "1/s")
    m["trace.overhead_share"] = (1 - rps_on / rps_off if rps_on and rps_off else 0.0, "ratio")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # A run measures one fixed cycle or round (see workloads.py); the
    # requested duration is recorded with the result.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        _log(f"the engine sources are not next to {BENCH_DIR}; run from the repo root")
        return 2
    sys.path.insert(0, REPO)
    import shutil

    from perfbench import session
    from perfbench.workloads import LAZY_MIX, WORKLOADS, Context

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    out_root = os.path.join(REPO, ".perfbench")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(out_root, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    box = session.box_info(REPO)
    session.configure_env(work, box)

    spark = None
    try:
        spark, setup_s = session.start_session()
        box["spark"] = spark.version
        tracer = monitor = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer()
            monitor = session.SparkMonitor(spark)
        ctx = Context(spark, args.seed, work, tracer, monitor, _log)
        t0 = time.perf_counter()
        out = WORKLOADS[args.workload](ctx)
        wall = time.perf_counter() - t0
        e2e = end_to_end(out, setup_s)
        metrics = e2e["metrics"]
        if args.trace:
            rows = monitor.per_request([d.rid for d in everything(out) if d.traced])
            metrics = per_layer(out, tracer, rows, LAZY_MIX)
    finally:
        if spark is not None:
            session.shutdown(spark)

    errors = [f"{d.rid} {d.kind} {d.name}: {d.error}" for d in everything(out) if d.error]
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "box": box,
        "sizing": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")},
        "setup_s": setup_s,
        "workload_wall_s": wall,
        "notes": out.notes,
        "errors": errors,
        "end_to_end": e2e["metrics"],
        "extra": e2e["extra"],
        "metrics": metrics,
        "latencies": [(d.rid, d.kind, d.name, d.latency, d.traced) for d in everything(out)],
    }
    results = os.path.join(out_root, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    if tracer is not None:
        tracer.dump(os.path.join(results, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print("box " + json.dumps(box, sort_keys=True))
    print(f"setup_s {setup_s:.3f} wall_s {wall:.2f} notes {out.notes}")
    for err in errors[:10]:
        print(f"error {err}")
    sections = [("end_to_end", e2e["metrics"]), ("extra", e2e["extra"])]
    if args.trace:
        sections.append(("per_layer", metrics))
    for section, values in sections:
        for name, (value, unit) in values.items():
            print(f"{section:10s} {name:52s} {value:14.6g} {unit}")
    correct = out.wrong == 0 and not any(d.wrong for d in everything(out))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": e2e["attempted"],
                "failed": e2e["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
