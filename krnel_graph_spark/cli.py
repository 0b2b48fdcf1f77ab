"""Batch-materialization CLI — entry point B of the reference's query
lifecycle (``src/krnel/graph/cli.py:37-113``), re-expressed for the Spark
engine.

A user writes a pipeline module that binds OpSpecs (and one ``SparkRunner``)
to module-level variables; the CLI imports it, *scavenges* every op reachable
from those variables, filters, and materializes each into the runner's
content-addressed store:

    python -m krnel_graph_spark run -f pipeline.py -t JinjaTemplatize
    python -m krnel_graph_spark summary -f pipeline.py
    python -m krnel_graph_spark print -f pipeline.py
    python -m krnel_graph_spark status -f pipeline.py
    python -m krnel_graph_spark diff old_pipeline.py new_pipeline.py
    python -m krnel_graph_spark make_group -f pipeline.py -t LLM
    python -m krnel_graph_spark config --store-uri /shared/results

The reference's manual shard flags (``--shard-idx/--shard-count``,
``cli.py:541-580``) are kept for fleets of independent driver-heavy ops
(e.g. many GPU inference graphs); *within* one op, Spark parallelizes, so
sharding is no longer the primary scale-out mechanism.
"""

from __future__ import annotations

import argparse
import importlib.util
import random
import sys
import traceback
from collections import Counter
from pathlib import Path
from typing import Optional

from .plans.diff import GraphDiff
from .plans.op_spec import OpSpec

# ---------------------------------------------------------------------- #
# Module scavenging                                                        #
# ---------------------------------------------------------------------- #


def load_pipeline_module(path: str):
    """Import a user pipeline file as a throwaway module."""
    p = Path(path)
    spec = importlib.util.spec_from_file_location(p.stem, p)
    if spec is None or spec.loader is None:
        raise SystemExit(f"cannot import {path}")
    module = importlib.util.module_from_spec(spec)
    sys.modules[p.stem] = module
    spec.loader.exec_module(module)
    return module


def scavenge(module) -> tuple[dict[str, OpSpec], Optional[object]]:
    """Collect module-level OpSpec bindings (roots) and the runner instance.

    Mirrors the reference's scavenging pass (``cli.py:226-259``): every
    OpSpec bound to a module-level name is a root; dependencies are reached
    through the roots. The unique runner instance (if any) rides along.
    """
    from .runners.spark_runner import SparkRunner

    roots: dict[str, OpSpec] = {}
    runner = None
    for name, value in vars(module).items():
        if name.startswith("_"):
            continue
        if isinstance(value, OpSpec):
            roots[name] = value
        elif isinstance(value, SparkRunner):
            if runner is not None and value is not runner:
                print("warning: multiple runners in module; using the first",
                      file=sys.stderr)
            else:
                runner = value
    return roots, runner


def all_ops(roots: dict[str, OpSpec]) -> dict[str, OpSpec]:
    """Every distinct op reachable from the roots, keyed by UUID."""
    seen: dict[str, OpSpec] = {}
    for root in roots.values():
        for node in root.iter_graph():
            seen.setdefault(node.uuid, node)
    return seen


def _matches(pattern: str, test: str) -> bool:
    """Reference filter semantics (``cli.py:276-281``): exact or
    case-insensitive substring."""
    return pattern == test or pattern.lower() in test.lower()


def _op_own_code(op: OpSpec) -> str:
    """One-line pseudocode for THIS op only (deps shown as short names) —
    the pickaxe search target, matching the reference's
    ``to_code(include_deps=False)`` (``cli.py:333-341``)."""
    params = []
    for fname in sorted(type(op).model_fields):
        value = getattr(op, fname)
        if isinstance(value, OpSpec):
            params.append(f"{fname}={value.short_name()}")
        else:
            params.append(f"{fname}={value!r}")
    return f"{type(op).__name__}({', '.join(params)})"


def select_ops(
    roots: dict[str, OpSpec],
    type_filter: Optional[str],
    uuid_filter: Optional[str],
    name_filter: Optional[str],
    param_filters: Optional[list[str]] = None,
    pickaxe_filters: Optional[list[str]] = None,
    state_filters: Optional[list[str]] = None,
    count: Optional[int] = None,
    runner=None,
) -> list[OpSpec]:
    """Apply the reference's filter surface (``cli.py:143-191,261-352``):
    type-name substring, UUID substring, variable-name substring, parameter
    value (``-p``), pseudocode pickaxe (``-S``), runtime state (``--state``),
    and result count cap (``--count``). No filter = every reachable op."""
    if name_filter:
        picked = {
            n: op for n, op in roots.items() if name_filter in n
        }
        ops = list(all_ops(picked).values()) if not (type_filter or uuid_filter) \
            else list(picked.values())
    else:
        ops = list(all_ops(roots).values())
    if type_filter:
        ops = [op for op in ops if _matches(type_filter, type(op).__name__)]
    if uuid_filter:
        ops = [op for op in ops if uuid_filter in op.uuid]
    if param_filters:
        # An op survives if ANY of its parameter values matches ANY pattern
        # (reference ``cli.py:314-331``). Dep-valued fields are compared by
        # their repr, same as the reference's model_dump stringification.
        ops = [
            op
            for op in ops
            if any(
                _matches(pat, str(val))
                for val in op.model_dump().values()
                for pat in param_filters
            )
        ]
    if pickaxe_filters:
        ops = [
            op
            for op in ops
            if any(_matches(pat, _op_own_code(op)) for pat in pickaxe_filters)
        ]
    if state_filters:
        if runner is None:
            raise SystemExit("--state filtering requires a runner")
        wanted = {s.lower() for s in state_filters}
        ops = [op for op in ops if runner.status(op).state.value in wanted]
    if count is not None:
        ops = sorted(ops, key=lambda o: o.uuid)[:count]
    return ops


def _select_from_args(roots, args, runner=None) -> list[OpSpec]:
    return select_ops(
        roots,
        args.type,
        args.uuid,
        args.name,
        param_filters=getattr(args, "param", None),
        pickaxe_filters=getattr(args, "pickaxe", None),
        state_filters=getattr(args, "state", None),
        count=getattr(args, "count", None),
        runner=runner,
    )


def _runner_for(args, module_runner):
    from .runners.spark_runner import SparkRunner

    if getattr(args, "store", None):
        return SparkRunner(store_path=args.store)
    if module_runner is not None:
        return module_runner
    raise SystemExit(
        "no runner: bind a SparkRunner in the pipeline module or pass --store"
    )


# ---------------------------------------------------------------------- #
# Subcommands                                                              #
# ---------------------------------------------------------------------- #


def cmd_run(args) -> int:
    module = load_pipeline_module(args.file)
    roots, module_runner = scavenge(module)
    runner = _runner_for(args, module_runner)
    if runner.store is None:
        raise SystemExit("run requires a persistent store (--store PATH)")
    ops = _select_from_args(roots, args, runner)
    if args.shard_count:
        ops = [
            op
            for op in ops
            if int(op.uuid_hash, 16) % args.shard_count == args.shard_idx
        ]
    if args.shuffle:
        random.Random(args.shard_idx or 0).shuffle(ops)

    n_ok = n_skip = n_fail = 0
    for op in ops:
        label = op.short_name()
        if op.is_ephemeral:
            print(f"SKIP {label} (ephemeral)")
            n_skip += 1
            continue
        if runner.has_result(op):
            print(f"DONE {label} (cached)")
            n_ok += 1
            continue
        try:
            runner.plan(op)  # computes + persists non-ephemeral results
            print(f"OK   {label}")
            n_ok += 1
        except Exception:
            n_fail += 1
            print(f"FAIL {label}")
            traceback.print_exc()
    print(f"\n{n_ok} ok, {n_skip} ephemeral-skipped, {n_fail} failed")
    return 1 if n_fail else 0


def cmd_status(args) -> int:
    """Per-op state; ``--json`` emits one status document per line
    (reference ``cli.py:373-414``)."""
    module = load_pipeline_module(args.file)
    roots, module_runner = scavenge(module)
    runner = _runner_for(args, module_runner)
    for op in sorted(
        _select_from_args(roots, args, runner), key=lambda o: o.uuid
    ):
        st = runner.status(op)
        if args.json:
            print(st.to_json())
        else:
            print(f"{st.state.value:10s} {op.short_name()}")
    return 0


def cmd_summary(args) -> int:
    """Per-op-type state counts; ``--json`` emits the nested counter dict
    (reference ``cli.py:417-489``)."""
    import json as json_lib

    module = load_pipeline_module(args.file)
    roots, module_runner = scavenge(module)
    runner = _runner_for(args, module_runner)
    counts: Counter[tuple[str, str]] = Counter()
    for op in all_ops(roots).values():
        counts[(type(op).__name__, runner.status(op).state.value)] += 1
    if args.json:
        nested: dict[str, dict[str, int]] = {}
        for (type_name, state), n in counts.items():
            nested.setdefault(type_name, {})[state] = n
        print(json_lib.dumps(nested, indent=2, sort_keys=True))
        return 0
    for (type_name, state), n in sorted(counts.items()):
        print(f"{type_name:35s} {state:10s} {n}")
    return 0


def cmd_print(args) -> int:
    """Pipeline pseudocode; ``--json`` emits one ``{"uuid", **fields}``
    document per reachable op (reference ``cli.py:492-518``)."""
    import json as json_lib

    module = load_pipeline_module(args.file)
    roots, _ = scavenge(module)
    if getattr(args, "json", False):
        for op in sorted(all_ops(roots).values(), key=lambda o: o.uuid):
            doc = {"uuid": op.uuid}
            doc.update(op.model_dump(mode="json"))
            print(json_lib.dumps(doc, sort_keys=True, default=str))
        return 0
    for name, op in roots.items():
        print(f"# {name} = {op.short_name()}")
        print(op.to_code())
        print()
    return 0


def cmd_make_group(args) -> int:
    """Bundle filtered ops into one GroupedOp and register it with the
    store, so a later ``run -u <uuid>`` materializes the whole batch
    (reference ``cli.py:520-535``)."""
    from .operators.grouped_ops import GroupedOp

    module = load_pipeline_module(args.file)
    roots, module_runner = scavenge(module)
    runner = _runner_for(args, module_runner)
    ops = _select_from_args(roots, args, runner)
    if not ops:
        raise SystemExit("no ops matched the filter")
    if len(ops) == 1:
        op = ops[0]
    else:
        op = GroupedOp(ops=sorted(ops, key=lambda o: o.uuid))
    runner.prepare(op)
    print(op.uuid)
    return 0


def cmd_compact(args) -> int:
    """Table maintenance: rewrite a parquet directory into ~target-sized
    files (beyond-reference; the streaming sink's many small files need
    periodic compaction at scale)."""
    import json as _json

    from .functions.partitioning import compact_parquet
    from .runners.spark_runner import get_spark

    stats = compact_parquet(
        get_spark("cli-compact"),
        args.src,
        args.dst,
        target_file_bytes=args.target_mb << 20,
        sort_within=args.sort_by.split(",") if args.sort_by else None,
    )
    print(_json.dumps(stats))
    return 0


def cmd_zorder(args) -> int:
    """Table maintenance: rewrite a parquet directory z-ordered on the
    given columns for multi-column row-group skipping."""
    from .functions.partitioning import write_zordered
    from .runners.spark_runner import get_spark

    spark = get_spark("cli-zorder")
    write_zordered(
        spark.read.parquet(args.src),
        args.dst,
        args.cols.split(","),
        n_files=args.n_files,
    )
    print(args.dst)
    return 0


def cmd_upsert(args) -> int:
    """Table maintenance: key-based SCD-1 merge of a parquet delta into a
    parquet table (writes the merged table to dst; caller swaps)."""
    import json as _json

    from .functions.partitioning import upsert_parquet
    from .runners.spark_runner import get_spark

    spark = get_spark("cli-upsert")
    stats = upsert_parquet(
        spark,
        args.target,
        spark.read.parquet(args.updates),
        args.keys.split(","),
        args.dst,
        delete_col=args.delete_col,
    )
    print(_json.dumps(stats))
    return 0


def cmd_profile(args) -> int:
    """Table profiling: one-pass long-format column profile of a parquet
    dir (HLL distinct by default; --exact plans the Expand)."""
    import json as _json

    from .functions.sketches import profile_table
    from .runners.spark_runner import get_spark

    spark = get_spark("cli-profile")
    df = spark.read.parquet(args.src)
    cols = args.cols.split(",") if args.cols else list(df.columns)
    rows = profile_table(df, cols, exact_distinct=args.exact).collect()
    print(_json.dumps([r.asDict() for r in rows]))
    return 0


def cmd_layout(args) -> int:
    """Table maintenance: parquet footer audit — per (file, row group)
    row counts and min/max stats for a column, as JSON. Run after
    compact/zorder to check the layout actually tightened."""
    import json as _json

    from .functions.partitioning import layout_report
    from .runners.spark_runner import get_spark

    spark = get_spark("cli-layout")
    rows = layout_report(spark, args.src, args.column).collect()
    print(_json.dumps([r.asDict() for r in rows]))
    return 0


def cmd_manifest(args) -> int:
    """Export verification: per-shard row/byte counts + order-independent
    XOR content checksums for a parquet table, as JSON. Producer and
    consumer both run it and diff — any dropped/duplicated/corrupted
    row flips a shard's checksum."""
    import json as _json

    from .functions.sampling import export_manifest
    from .runners.spark_runner import get_spark

    spark = get_spark("cli-manifest")
    df = spark.read.parquet(args.src)
    rows = export_manifest(
        df, args.text_column, args.id_column,
        num_shards=args.shards, seed=args.seed,
    ).collect()
    print(_json.dumps(sorted((r.asDict() for r in rows),
                             key=lambda d: d["shard"])))
    return 0


def cmd_table_diff(args) -> int:
    """Table maintenance: keyed diff of two parquet snapshots — status
    counts as JSON, optionally the full per-key status table to a dir."""
    import json as _json

    from .functions.partitioning import snapshot_diff
    from .runners.spark_runner import get_spark

    from pyspark.sql import functions as F  # noqa: N812

    spark = get_spark("cli-table-diff")
    diff = snapshot_diff(
        spark.read.parquet(args.old),
        spark.read.parquet(args.new),
        args.keys.split(","),
    )
    if args.out:
        diff.write.mode("overwrite").parquet(args.out)
    counts = {
        r["status"]: r["n"]
        for r in diff.groupBy("status").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    print(_json.dumps({s: counts.get(s, 0) for s in
                       ("added", "removed", "changed", "same")}))
    return 0


def cmd_arpa_export(args) -> int:
    """LM portability: train a Kneser-Ney model (order 2-5) on a
    parquet corpus and write a standard ``.arpa`` file any
    KenLM-consuming pipeline reads. ``--modified`` bakes Chen-Goodman
    per-class discounts in; ``--min-count`` prunes the top-order
    lookup table KenLM-style — both at every order (order 3 keeps the
    pinned kn3 trainer; 2/4/5 route through the generic trainer, whose
    order-2/3 outputs are row-identical to the pinned exporters).
    ``--prune`` adds per-level listing thresholds (``lmplz --prune``'s
    shape; any pruned export rides the generic path)."""
    from .functions.arpa import kneser_ney3_export_arpa
    from .runners.spark_runner import get_spark

    spark = get_spark("cli-arpa-export")
    df = spark.read.parquet(args.src)
    prune = None
    if args.prune:
        try:
            prune = tuple(int(t) for t in args.prune.split(","))
        except ValueError:
            print("--prune wants comma-separated ints", file=sys.stderr)
            return 2
        if len(prune) != args.order - 1 or any(t < 0 for t in prune):
            print(
                f"--prune wants {args.order - 1} thresholds >= 0 "
                f"(levels 2..{args.order})",
                file=sys.stderr,
            )
            return 2
    if args.order == 3 and not prune:
        from .functions.text import kneser_ney3_train

        lm3 = kneser_ney3_train(
            df, args.text_column, min_count=args.min_count
        )
        kneser_ney3_export_arpa(
            lm3,
            args.out,
            discount="modified" if args.modified else args.discount,
            base_discount=args.discount,
        )
    else:
        # any pruned export rides the generic path (order-3 output is
        # pinned row-identical to the kn3 exporter's, so the route
        # only changes when --prune asks for what kn3 doesn't have)
        from .functions.ngram_lm import (
            kneser_ney_ngram_export_arpa,
            kneser_ney_ngram_train,
        )

        lm = kneser_ney_ngram_train(
            df, args.text_column, order=args.order,
            min_count=args.min_count,
        )
        kneser_ney_ngram_export_arpa(
            lm,
            args.out,
            discount="modified" if args.modified else args.discount,
            base_discount=args.discount,
            prune=prune,
        )
    print(args.out)
    return 0


def cmd_arpa_score(args) -> int:
    """The consumer side from the shell: perplexity-filter scoring of
    a parquet corpus against ANY ``.arpa`` backoff model (KenLM-built
    or this engine's exports — any order). Writes the per-document
    ``(id, n_tokens, n_oov, logprob_sum)`` frame to parquet and prints
    a one-line JSON summary. ``--bos/--eos`` apply the KenLM
    sentence-marker convention; ``--oov-mode unk`` is KenLM-faithful
    OOV rewriting."""
    import json as _json

    from pyspark.sql import functions as F  # noqa: N812

    from .functions.arpa import arpa_load, arpa_score
    from .runners.spark_runner import get_spark

    spark = get_spark("cli-arpa-score")
    scored = arpa_score(
        arpa_load(spark, args.model),
        spark.read.parquet(args.src),
        args.text_column,
        args.id_column,
        max_order=args.max_order,
        bos=args.bos,
        eos=args.eos,
        oov_mode=args.oov_mode,
    )
    scored.write.mode("overwrite").parquet(args.out)
    s = (
        spark.read.parquet(args.out)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("n_oov").alias("oov"),
        )
        .collect()[0]
    )
    print(
        _json.dumps(
            {
                "docs": s["docs"],
                "tokens": int(s["tokens"] or 0),
                "oov": int(s["oov"] or 0),
                "out": args.out,
            }
        )
    )
    return 0


def cmd_arpa_filter(args) -> int:
    """The KenLM ``filter`` tool from the shell: vocabulary-filter a
    ``.arpa`` backoff model to a parquet corpus and write the smaller
    model back out as ``.arpa`` (scores corpus-vocabulary text
    identically to the full model — the filter guarantee). Prints a
    one-line JSON summary with per-order gram counts before/after."""
    import json as _json

    from pyspark.sql import functions as F  # noqa: N812

    from .functions.arpa import _write_arpa, arpa_filter, arpa_load
    from .functions.partitioning import pin
    from .runners.spark_runner import get_spark

    spark = get_spark("cli-arpa-filter")
    rows = arpa_load(spark, args.model)
    small = pin(
        arpa_filter(rows, spark.read.parquet(args.src), args.text_column),
        eager=True,
    )
    counts = {
        "before": {
            int(r["order"]): r["n"]
            for r in rows.groupBy("order").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        },
        "after": {
            int(r["order"]): r["n"]
            for r in small.groupBy("order").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        },
    }
    max_order = max(counts["after"])
    _write_arpa(small, args.out, max_order)
    print(_json.dumps({"ngrams": counts, "out": args.out}))
    return 0


def cmd_config(args) -> int:
    """Get or set engine configuration (reference ``cli.py:608-646``).

    With no options: print the config-file path and every field (with its
    description and current effective value). With options: merge them over
    the current config, save, and print the result."""
    from .config import KrnelGraphSparkConfig, default_config_file

    def print_config(cfg: KrnelGraphSparkConfig) -> None:
        for field, info in type(cfg).model_fields.items():
            if info.description:
                print(f"    # {info.description}")
            val = getattr(cfg, field)
            print(f"    {field}: {str(val) if hasattr(val, '__fspath__') else val!r}")

    updates = {
        field: getattr(args, field)
        for field in KrnelGraphSparkConfig.model_fields
        if getattr(args, field, None) is not None
    }
    if not updates:
        print(f"Path to config file: {default_config_file()}")
        print("Current config:")
        print_config(KrnelGraphSparkConfig())
        return 0
    merged = KrnelGraphSparkConfig().model_dump()
    merged.update(updates)
    cfg = KrnelGraphSparkConfig(**merged)
    path = cfg.save()
    print("New config:")
    print_config(cfg)
    print(f"Configuration saved in config file: {path}")
    return 0


def cmd_diff(args) -> int:
    mod_a = load_pipeline_module(args.file_a)
    mod_b = load_pipeline_module(args.file_b)
    roots_a, _ = scavenge(mod_a)
    roots_b, _ = scavenge(mod_b)
    shared_names = [n for n in roots_a if n in roots_b]
    if not shared_names:
        raise SystemExit("no shared module-level op names to diff")
    identical = True
    for name in shared_names:
        d = GraphDiff(roots_a[name], roots_b[name])
        identical = identical and d.identical
        print(f"## {name}")
        print(d)
        print()
    return 0 if identical else 1


# ---------------------------------------------------------------------- #
# Parser                                                                   #
# ---------------------------------------------------------------------- #


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("-f", "--file", required=True, help="pipeline module path")
    p.add_argument("-t", "--type", help="op type-name substring filter")
    p.add_argument("-u", "--uuid", help="op UUID substring filter")
    p.add_argument("-n", "--name", help="module variable-name substring filter")
    p.add_argument(
        "-p", "--param", action="append",
        help="keep ops with ANY parameter value matching this substring "
             "(repeatable; reference -p)",
    )
    p.add_argument(
        "-S", "--pickaxe", action="append",
        help="pickaxe: keep ops whose own pseudocode line matches this "
             "substring (repeatable; reference -S)",
    )
    p.add_argument(
        "--state", action="append",
        choices=["new", "pending", "running", "completed", "failed",
                 "ephemeral"],
        help="keep ops in this runtime state (repeatable)",
    )
    p.add_argument(
        "-c", "--count", type=int,
        help="cap the number of ops after all other filters (reference -n)",
    )
    p.add_argument("--store", help="result-store path override")


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="krnel-graph-spark")
    sub = parser.add_subparsers(dest="command", required=True)

    p_run = sub.add_parser("run", help="materialize ops into the store")
    _add_common(p_run)
    p_run.add_argument("--shard-idx", type=int, default=0)
    p_run.add_argument("--shard-count", type=int, default=0)
    p_run.add_argument("--shuffle", action="store_true")
    p_run.set_defaults(fn=cmd_run)

    p_status = sub.add_parser("status", help="per-op materialization state")
    _add_common(p_status)
    p_status.add_argument("-j", "--json", action="store_true",
                          help="JSON machine-readable output")
    p_status.set_defaults(fn=cmd_status)

    p_summary = sub.add_parser("summary", help="state counts per op type")
    _add_common(p_summary)
    p_summary.add_argument("-j", "--json", action="store_true",
                           help="JSON machine-readable output")
    p_summary.set_defaults(fn=cmd_summary)

    p_print = sub.add_parser("print", help="pseudocode of module pipelines")
    p_print.add_argument("-f", "--file", required=True)
    p_print.add_argument("-j", "--json", action="store_true",
                         help="JSONL op dump (uuid + fields per line)")
    p_print.set_defaults(fn=cmd_print)

    p_diff = sub.add_parser("diff", help="diff two pipeline modules")
    p_diff.add_argument("file_a")
    p_diff.add_argument("file_b")
    p_diff.set_defaults(fn=cmd_diff)

    p_group = sub.add_parser(
        "make_group", help="bundle filtered ops into one GroupedOp"
    )
    _add_common(p_group)
    p_group.set_defaults(fn=cmd_make_group)

    p_config = sub.add_parser("config", help="get or set engine configuration")
    p_config.add_argument("--runner-type", dest="runner_type")
    p_config.add_argument("--store-uri", dest="store_uri")
    p_config.add_argument("--cache-path", dest="cache_path")
    p_config.set_defaults(fn=cmd_config)

    p_compact = sub.add_parser(
        "compact", help="rewrite a parquet dir into ~target-sized files"
    )
    p_compact.add_argument("src")
    p_compact.add_argument("dst")
    p_compact.add_argument("--target-mb", type=int, default=128)
    p_compact.add_argument(
        "--sort-by", help="comma-separated columns for per-file local sort"
    )
    p_compact.set_defaults(fn=cmd_compact)

    p_zorder = sub.add_parser(
        "zorder", help="rewrite a parquet dir z-ordered on columns"
    )
    p_zorder.add_argument("src")
    p_zorder.add_argument("dst")
    p_zorder.add_argument("cols", help="comma-separated columns to z-order on")
    p_zorder.add_argument("--n-files", type=int, default=32)
    p_zorder.set_defaults(fn=cmd_zorder)

    p_upsert = sub.add_parser(
        "upsert", help="merge a parquet delta into a parquet table by key"
    )
    p_upsert.add_argument("target", help="existing table dir")
    p_upsert.add_argument("updates", help="delta dir (replace/insert rows)")
    p_upsert.add_argument("dst", help="output dir for the merged table")
    p_upsert.add_argument("keys", help="comma-separated key columns")
    p_upsert.add_argument(
        "--delete-col",
        help="boolean column in the delta marking tombstone rows",
    )
    p_upsert.set_defaults(fn=cmd_upsert)

    p_profile = sub.add_parser(
        "profile", help="one-pass column profile of a parquet dir (JSON)"
    )
    p_profile.add_argument("src")
    p_profile.add_argument(
        "--cols", help="comma-separated columns (default: all)"
    )
    p_profile.add_argument(
        "--exact", action="store_true", help="exact distinct counts"
    )
    p_profile.set_defaults(fn=cmd_profile)

    p_layout = sub.add_parser(
        "layout", help="parquet footer audit: per-row-group stats (JSON)"
    )
    p_layout.add_argument("src")
    p_layout.add_argument("column", help="column whose stats to report")
    p_layout.set_defaults(fn=cmd_layout)

    p_manifest = sub.add_parser(
        "manifest", help="per-shard export manifest with XOR checksums (JSON)"
    )
    p_manifest.add_argument("src")
    p_manifest.add_argument("text_column")
    p_manifest.add_argument("id_column")
    p_manifest.add_argument("--shards", type=int, default=8)
    p_manifest.add_argument("--seed", type=int, default=0)
    p_manifest.set_defaults(fn=cmd_manifest)

    p_tdiff = sub.add_parser(
        "table-diff", help="keyed diff of two parquet snapshots"
    )
    p_tdiff.add_argument("old")
    p_tdiff.add_argument("new")
    p_tdiff.add_argument("keys", help="comma-separated key columns")
    p_tdiff.add_argument(
        "--out", help="write the per-key status table to this parquet dir"
    )
    p_tdiff.set_defaults(fn=cmd_table_diff)

    p_arpa = sub.add_parser(
        "arpa-export",
        help="train a Kneser-Ney LM on a parquet corpus, write a .arpa "
        "file (KenLM/SRILM-consumable)",
    )
    p_arpa.add_argument("src", help="parquet dir of the training corpus")
    p_arpa.add_argument("text_column")
    p_arpa.add_argument("out", help="output .arpa path (driver-local)")
    p_arpa.add_argument(
        "--order", type=int, choices=(2, 3, 4, 5), default=3,
        help="n-gram order; 2/4/5 use the generic trainer (r14)",
    )
    p_arpa.add_argument("--discount", type=float, default=0.75)
    p_arpa.add_argument(
        "--modified", action="store_true",
        help="Chen-Goodman per-class discounts (any order)",
    )
    p_arpa.add_argument(
        "--min-count", type=int, default=1,
        help="prune top-order types below this count (any order)",
    )
    p_arpa.add_argument(
        "--prune", default="",
        help="per-level listing thresholds for levels 2..order, "
        "comma-separated (lmplz --prune's shape, e.g. '0,0,1,1'); "
        "stats/backoff weights stay unpruned",
    )
    p_arpa.set_defaults(fn=cmd_arpa_export)

    p_ascore = sub.add_parser(
        "arpa-score",
        help="score a parquet corpus against a .arpa backoff model "
        "(any order; KenLM-built or engine-exported), write per-doc "
        "logprobs to parquet",
    )
    p_ascore.add_argument("model", help=".arpa file path (driver-local)")
    p_ascore.add_argument("src", help="parquet dir of the corpus to score")
    p_ascore.add_argument("text_column")
    p_ascore.add_argument("id_column")
    p_ascore.add_argument("out", help="output parquet dir")
    p_ascore.add_argument("--max-order", type=int, default=None)
    p_ascore.add_argument(
        "--bos", action="store_true",
        help="prepend <s> as context (KenLM convention)",
    )
    p_ascore.add_argument(
        "--eos", action="store_true",
        help="append and score </s> (KenLM convention)",
    )
    p_ascore.add_argument(
        "--oov-mode", choices=("keep", "unk"), default="keep",
        help="'unk' rewrites unlisted tokens to <unk> before grams "
        "are built (KenLM-faithful on external models)",
    )
    p_ascore.set_defaults(fn=cmd_arpa_score)

    p_afilter = sub.add_parser(
        "arpa-filter",
        help="vocabulary-filter a .arpa model to a parquet corpus "
        "(the KenLM `filter` tool): the smaller model scores "
        "corpus-vocabulary text identically",
    )
    p_afilter.add_argument("model", help=".arpa file path (driver-local)")
    p_afilter.add_argument(
        "src", help="parquet dir of the corpus defining the vocabulary"
    )
    p_afilter.add_argument("text_column")
    p_afilter.add_argument("out", help="output .arpa path (driver-local)")
    p_afilter.set_defaults(fn=cmd_arpa_filter)
    return parser


def main(argv: Optional[list[str]] = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
