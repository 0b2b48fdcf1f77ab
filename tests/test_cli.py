"""CLI (entry point B) and GraphDiff tests.

Mirrors the reference's CLI workflow (``src/krnel/graph/cli.py:37-113``):
scavenge a pipeline module, filter, materialize into the store, inspect
status/summary/pseudocode, diff two pipelines.
"""

import json
import textwrap

import pytest

from krnel_graph_spark.cli import main
from krnel_graph_spark.plans.diff import GraphDiff


PIPELINE = """
    from krnel_graph_spark import SparkRunner

    runner = SparkRunner(store_path={store!r})
    ds = runner.from_inline_dataset(
        {{"name": ["a", "b", "c"], "score": [1.0, 2.0, 3.0]}}
    )
    greeting = ds.template("hi {{{{n}}}}!", n=ds.col_text("name"))
    flag = ds.col_categorical("name").is_in({{"a", "b"}})
"""


def _write_pipeline(tmp_path, store, fname="pipe.py"):
    p = tmp_path / fname
    p.write_text(textwrap.dedent(PIPELINE.format(store=store)))
    return str(p)


def test_cli_run_and_status(tmp_path, spark, capsys):
    store = str(tmp_path / "store")
    pipe = _write_pipeline(tmp_path, store)

    assert main(["run", "-f", pipe]) == 0
    out = capsys.readouterr().out
    # Jinja template is non-ephemeral -> materialized; is_in is ephemeral.
    assert "OK   JinjaTemplatizeOp" in out
    assert "SKIP CategoryToBooleanOp" in out
    assert "0 failed" in out

    # Second run: cached (cross-process memoization via the store).
    assert main(["run", "-f", pipe, "-t", "Jinja"]) == 0
    assert "DONE JinjaTemplatizeOp" in capsys.readouterr().out

    assert main(["status", "-f", pipe, "-t", "Jinja"]) == 0
    assert "completed" in capsys.readouterr().out

    assert main(["summary", "-f", pipe]) == 0
    summary = capsys.readouterr().out
    assert "JinjaTemplatizeOp" in summary and "completed" in summary


def test_cli_print(tmp_path, spark, capsys):
    pipe = _write_pipeline(tmp_path, str(tmp_path / "store"))
    assert main(["print", "-f", pipe]) == 0
    out = capsys.readouterr().out
    assert "JinjaTemplatizeOp(" in out and "LoadInlineJsonDatasetOp(" in out


def test_cli_diff(tmp_path, spark, capsys):
    store = str(tmp_path / "store")
    pipe_a = _write_pipeline(tmp_path, store, "a.py")
    pipe_b = _write_pipeline(tmp_path, store, "b.py")
    assert main(["diff", pipe_a, pipe_b]) == 0  # identical graphs

    p = tmp_path / "c.py"
    p.write_text(
        textwrap.dedent(PIPELINE.format(store=store)).replace("hi", "yo")
    )
    assert main(["diff", pipe_a, str(p)]) == 1
    out = capsys.readouterr().out
    assert "-" in out and "+" in out  # unified diff rendered


def test_graph_diff_after_subs(runner):
    """The signature subs() workflow: swap the dataset, diff the pipelines."""
    ds1 = runner.from_inline_dataset({"t": ["x"]})
    ds2 = runner.from_inline_dataset({"t": ["y"]})
    tpl1 = ds1.template("v={{v}}", v=ds1.col_text("t"))
    tpl2 = tpl1.subs({ds1: ds2})

    d = GraphDiff(tpl1, tpl2)
    assert not d.identical
    # Every node differs (the dataset swap rewrites the whole downstream).
    assert len(d.common) == 0
    assert {type(n).__name__ for n in d.only_a} == {
        "LoadInlineJsonDatasetOp",
        "SelectTextColumnOp",
        "JinjaTemplatizeOp",
    }
    d_same = GraphDiff(tpl1, tpl1)
    assert d_same.identical and "identical" in str(d_same)


def test_cli_make_group(tmp_path, spark, capsys):
    store = str(tmp_path / "store")
    pipe = _write_pipeline(tmp_path, store)

    assert main(["make_group", "-f", pipe]) == 0
    uuid = capsys.readouterr().out.strip()
    assert uuid.startswith("GroupedOp_")

    # Single-op filter degenerates to that op's own uuid (reference
    # semantics: no one-element group wrapper).
    assert main(["make_group", "-f", pipe, "-t", "Jinja"]) == 0
    assert capsys.readouterr().out.strip().startswith("JinjaTemplatizeOp_")

    with pytest.raises(SystemExit):
        main(["make_group", "-f", pipe, "-t", "NoSuchOpType"])


def test_cli_param_filter(tmp_path, spark, capsys):
    """-p keeps ops with ANY parameter value matching the substring
    (reference ``cli.py:314-331``)."""
    store = str(tmp_path / "store")
    pipe = _write_pipeline(tmp_path, store)

    # The Jinja op's template parameter contains "hi {{n}}!".
    assert main(["status", "-f", pipe, "-p", "hi {{n}}"]) == 0
    out = capsys.readouterr().out
    assert "JinjaTemplatizeOp" in out
    assert "LoadInlineJsonDatasetOp" not in out

    # Case-insensitive substring, reference _matches semantics.
    assert main(["status", "-f", pipe, "-p", "HI {{N}}"]) == 0
    assert "JinjaTemplatizeOp" in capsys.readouterr().out

    # Repeatable: OR across patterns.
    assert main(["status", "-f", pipe, "-p", "no-such-value",
                 "-p", "BUILDING", "-p", "hi {{n}}"]) == 0
    assert "JinjaTemplatizeOp" in capsys.readouterr().out

    assert main(["status", "-f", pipe, "-p", "zzz-no-match"]) == 0
    assert capsys.readouterr().out.strip() == ""


def test_cli_pickaxe_filter(tmp_path, spark, capsys):
    """-S searches each op's own pseudocode line (reference -S pickaxe)."""
    store = str(tmp_path / "store")
    pipe = _write_pipeline(tmp_path, store)

    # Matches the op's own rendered line: type name + params.
    assert main(["status", "-f", pipe, "-S", "template='hi"]) == 0
    out = capsys.readouterr().out
    assert "JinjaTemplatizeOp" in out and "SelectTextColumnOp" not in out

    # Pickaxe over a column name reaches the select op, not the dataset.
    assert main(["status", "-f", pipe, "-S", "column_name='name'"]) == 0
    out = capsys.readouterr().out
    assert "SelectTextColumnOp" in out
    assert "JinjaTemplatizeOp" not in out.replace("SelectTextColumnOp", "")


def test_cli_state_filter_and_count(tmp_path, spark, capsys):
    store = str(tmp_path / "store")
    pipe = _write_pipeline(tmp_path, store)

    # Nothing materialized yet: everything non-ephemeral is "new".
    assert main(["status", "-f", pipe, "--state", "completed"]) == 0
    assert capsys.readouterr().out.strip() == ""

    assert main(["run", "-f", pipe, "-t", "Jinja"]) == 0
    capsys.readouterr()

    assert main(["status", "-f", pipe, "--state", "completed"]) == 0
    out = capsys.readouterr().out
    assert "JinjaTemplatizeOp" in out and "LoadInlineJsonDatasetOp" not in out

    # Repeatable states OR together; ephemeral ops surface too.
    assert main(["status", "-f", pipe, "--state", "completed",
                 "--state", "ephemeral"]) == 0
    out = capsys.readouterr().out
    assert "JinjaTemplatizeOp" in out and "CategoryToBooleanOp" in out

    # --count caps after all other filters (deterministic by uuid sort).
    assert main(["status", "-f", pipe, "-c", "1"]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 1

    # run honors the same filters: only completed ops -> all cached.
    assert main(["run", "-f", pipe, "--state", "completed"]) == 0
    out = capsys.readouterr().out
    assert "DONE JinjaTemplatizeOp" in out and "0 failed" in out


def test_cli_config_get_and_set(tmp_path, capsys, monkeypatch):
    cfg_file = tmp_path / "cfg" / "config.json"
    monkeypatch.setenv("KRNEL_SPARK_CONFIG_FILE", str(cfg_file))

    # Get: prints path + defaults without creating the file.
    assert main(["config"]) == 0
    out = capsys.readouterr().out
    assert str(cfg_file) in out and "store_uri" in out
    assert not cfg_file.exists()

    # Set: persists only the overridden fields.
    assert main(["config", "--store-uri", "/tmp/ktest", "--cache-path", "/tmp/kcache"]) == 0
    out = capsys.readouterr().out
    assert "/tmp/ktest" in out and cfg_file.exists()
    saved = cfg_file.read_text()
    assert "store_uri" in saved and "runner_type" not in saved

    # A later set of a different field preserves the earlier ones.
    assert main(["config", "--runner-type", "LocalCachedRunner"]) == 0
    capsys.readouterr()
    from krnel_graph_spark.config import KrnelGraphSparkConfig

    cfg = KrnelGraphSparkConfig()
    assert cfg.store_uri == "/tmp/ktest"
    assert str(cfg.cache_path) == "/tmp/kcache"
    assert cfg.runner_type == "LocalCachedRunner"

    # A file from before the session knobs were removed still loads.
    saved = json.loads(cfg_file.read_text())
    cfg_file.write_text(
        json.dumps({**saved, "spark_master": "local[2]", "shuffle_partitions": 7})
    )
    cfg = KrnelGraphSparkConfig()
    assert cfg.store_uri == "/tmp/ktest"
    assert not hasattr(cfg, "spark_master")

    # Env beats file (reference precedence).
    monkeypatch.setenv("KRNEL_SPARK_STORE_URI", "/tmp/env-wins")
    assert KrnelGraphSparkConfig().store_uri == "/tmp/env-wins"


def test_config_defaults_are_per_user():
    from krnel_graph_spark.config import KrnelGraphSparkConfig, _user_suffix

    cfg = KrnelGraphSparkConfig()
    assert _user_suffix() in str(cfg.cache_path)
    assert _user_suffix() in cfg.store_uri


def test_cli_json_outputs(tmp_path, spark, capsys):
    import json

    store = str(tmp_path / "store")
    pipe = _write_pipeline(tmp_path, store)

    assert main(["print", "-f", pipe, "--json"]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert all("uuid" in d for d in lines)
    assert any(d["uuid"].startswith("JinjaTemplatizeOp_") for d in lines)

    assert main(["status", "-f", pipe, "-t", "Jinja", "--json"]) == 0
    (doc,) = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert doc["state"] == "new" and doc["uuid"].startswith("JinjaTemplatizeOp_")

    assert main(["run", "-f", pipe, "-t", "Jinja"]) == 0
    capsys.readouterr()
    assert main(["summary", "-f", pipe, "--json"]) == 0
    nested = json.loads(capsys.readouterr().out)
    assert nested["JinjaTemplatizeOp"] == {"completed": 1}


def test_runner_factory(tmp_path, spark, monkeypatch):
    """Config-driven Runner(): type resolution, config-default store,
    instance caching, unknown-type error."""
    import krnel_graph_spark as kg
    from krnel_graph_spark.runners import _RUNNER_REGISTRY

    cfg_file = tmp_path / "cfg.json"
    monkeypatch.setenv("KRNEL_SPARK_CONFIG_FILE", str(cfg_file))
    monkeypatch.setenv("KRNEL_SPARK_STORE_URI", str(tmp_path / "factory-store"))
    _RUNNER_REGISTRY.clear()

    r1 = kg.Runner(spark=spark)
    assert isinstance(r1, kg.SparkRunner)
    assert r1.store is not None
    assert str(tmp_path / "factory-store") in r1.store.root

    # Same params -> same cached instance; different -> different.
    assert kg.Runner(spark=spark) is r1
    r2 = kg.Runner(type="LocalCachedRunner", spark=spark,
                   store_path=str(tmp_path / "shared"))
    assert isinstance(r2, kg.LocalCachedRunner) and r2 is not r1

    with pytest.raises(ValueError, match="Unknown runner type"):
        kg.Runner(type="NoSuchRunner")

    # env var beats config-file default for the store location
    monkeypatch.setenv("KRNEL_SPARK_RUNNER_TYPE", "LocalCachedRunner")
    r3 = kg.Runner(spark=spark, store_path=str(tmp_path / "shared2"))
    assert isinstance(r3, kg.LocalCachedRunner)


def test_cli_compact_and_zorder(tmp_path, capsys):
    import glob
    import json

    from krnel_graph_spark.cli import main
    from krnel_graph_spark.runners.spark_runner import get_spark

    spark = get_spark("test-cli-maint")
    src = str(tmp_path / "src")
    spark.range(20_000).selectExpr("id", "id % 50 as k").repartition(
        40
    ).write.parquet(src)

    dst = str(tmp_path / "compacted")
    assert main(["compact", src, dst, "--target-mb", "1"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["files_after"] < 40
    assert spark.read.parquet(dst).count() == 20_000

    zdst = str(tmp_path / "zordered")
    assert main(["zorder", src, zdst, "id,k", "--n-files", "4"]) == 0
    assert len(glob.glob(f"{zdst}/part-*.parquet")) <= 4
    assert spark.read.parquet(zdst).count() == 20_000


SCALE_PIPELINE = """
    from krnel_graph_spark import SparkRunner

    runner = SparkRunner(store_path={store!r})
    docs = runner.from_parquet("/root/testdata/sf0.001/documents.parquet")
    deduped = docs.take(150).drop_exact_dups("text")
    enriched = deduped.text_stats("text")
    chunks = enriched.chunk_docs("text", chunk_size=32, overlap=8)
"""


def test_cli_materializes_scale_ops(tmp_path, spark, capsys):
    """Entry point B over the fluent scale layer: the CLI scavenges,
    materializes, and memoizes dedup/enrich/chunk ops like any
    reference-parity op."""
    store = str(tmp_path / "store")
    p = tmp_path / "scale_pipe.py"
    p.write_text(textwrap.dedent(SCALE_PIPELINE.format(store=store)))

    assert main(["run", "-f", str(p)]) == 0
    out = capsys.readouterr().out
    assert "OK   DropExactDupsOp" in out
    assert "OK   TextStatsOp" in out
    assert "OK   ChunkDocumentsOp" in out
    assert "0 failed" in out

    # re-run: everything already in the store
    assert main(["run", "-f", str(p)]) == 0
    out = capsys.readouterr().out
    assert "DONE ChunkDocumentsOp" in out and "OK " not in out

    assert main(["summary", "-f", str(p)]) == 0
    assert "ChunkDocumentsOp" in capsys.readouterr().out


def test_cli_layout_audit(tmp_path, capsys):
    import json

    from krnel_graph_spark.cli import main
    from krnel_graph_spark.runners.spark_runner import get_spark

    spark = get_spark("test-cli-layout")
    src = str(tmp_path / "lsrc")
    spark.range(5_000).selectExpr("id", "id % 7 as k").coalesce(
        2
    ).write.parquet(src)

    assert main(["layout", src, "id"]) == 0
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(r["n_rows"] for r in rows) == 5_000
    assert all(int(r["min_v"]) <= int(r["max_v"]) for r in rows)
    assert len({r["file"] for r in rows}) == 2


def test_cli_manifest(tmp_path, capsys):
    import json

    from krnel_graph_spark.cli import main
    from krnel_graph_spark.runners.spark_runner import get_spark

    spark = get_spark("test-cli-manifest")
    src = str(tmp_path / "msrc")
    spark.range(200).selectExpr(
        "id as doc_id", "concat('body ', id) as text"
    ).write.parquet(src)

    assert main(["manifest", src, "text", "doc_id", "--shards", "4"]) == 0
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(r["n_rows"] for r in rows) == 200
    assert [r["shard"] for r in rows] == sorted(r["shard"] for r in rows)
    assert all("checksum_xor" in r for r in rows)


def test_cli_arpa_export(tmp_path, capsys):
    from krnel_graph_spark.cli import main
    from krnel_graph_spark.runners.spark_runner import get_spark

    spark = get_spark("test-cli-arpa")
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat on the log")],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "m.arpa")
    assert main(["arpa-export", src, "text", out, "--order", "3"]) == 0
    text = open(out, encoding="utf-8").read()
    assert text.startswith("\\data\\\n") and "\\3-grams:" in text
    capsys.readouterr()

    out2 = str(tmp_path / "m2.arpa")
    assert main(["arpa-export", src, "text", out2, "--order", "2"]) == 0
    assert "\\2-grams:" in open(out2, encoding="utf-8").read()
    capsys.readouterr()

    # order 2 routes through the generic trainer since r14, so
    # --modified and --min-count now work at every order
    out2m = str(tmp_path / "m2m.arpa")
    assert (
        main(["arpa-export", src, "text", out2m, "--order", "2",
              "--modified", "--min-count", "2"]) == 0
    )
    t2m = open(out2m, encoding="utf-8").read()
    assert "\\2-grams:" in t2m and t2m != open(out2, encoding="utf-8").read()
    capsys.readouterr()

    # orders 4/5 route to the generic trainer (r14); the file lists
    # every section and loads back through the order-generic parser
    out5 = str(tmp_path / "m5.arpa")
    assert main(["arpa-export", src, "text", out5, "--order", "5"]) == 0
    text5 = open(out5, encoding="utf-8").read()
    assert "\\5-grams:" in text5 and "ngram 5=" in text5
    capsys.readouterr()
    out5m = str(tmp_path / "m5m.arpa")
    assert (
        main(["arpa-export", src, "text", out5m, "--order", "5",
              "--modified"]) == 0
    )
    t5m = open(out5m, encoding="utf-8").read()
    assert "\\5-grams:" in t5m and t5m != text5


def test_cli_arpa_score(tmp_path, capsys):
    """Export → arpa-score from the shell: the written per-doc frame
    equals the in-process arpa_score over the loaded model, and the
    stdout summary is one JSON line."""
    import json as _json

    from krnel_graph_spark.cli import main
    from krnel_graph_spark.runners.spark_runner import get_spark

    spark = get_spark("test-cli-arpa-score")
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat on the log"),
         (2, "a zebra appears")],
        "doc_id long, text string",
    ).write.parquet(src)
    model = str(tmp_path / "m5.arpa")
    assert main(["arpa-export", src, "text", model, "--order", "5"]) == 0
    capsys.readouterr()

    out = str(tmp_path / "scored")
    assert main(
        ["arpa-score", model, src, "text", "doc_id", out, "--bos", "--eos",
         "--oov-mode", "unk"]
    ) == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs"] == 3 and summary["out"] == out

    from krnel_graph_spark.functions.arpa import arpa_load, arpa_score

    want = {
        r.doc_id: (r.n_tokens, r.n_oov, r.logprob_sum)
        for r in arpa_score(
            arpa_load(spark, model), spark.read.parquet(src),
            "text", "doc_id", bos=True, eos=True, oov_mode="unk",
        ).collect()
    }
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.logprob_sum)
        for r in spark.read.parquet(out).collect()
    }
    assert got == want
    assert summary["tokens"] == sum(v[0] for v in want.values())


def test_cli_arpa_filter(tmp_path, capsys):
    """Export → arpa-filter from the shell: the written sub-model
    drops out-of-vocabulary grams, reports per-order counts, and
    scores filter-corpus text identically to the full model."""
    import json as _json

    from krnel_graph_spark.cli import main
    from krnel_graph_spark.runners.spark_runner import get_spark

    spark = get_spark("test-cli-arpa-filter")
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat on the log")],
        "doc_id long, text string",
    ).write.parquet(src)
    model = str(tmp_path / "m3.arpa")
    assert main(["arpa-export", src, "text", model, "--order", "3"]) == 0
    capsys.readouterr()

    sub = str(tmp_path / "sub")
    spark.createDataFrame(
        [(0, "the cat sat")], "doc_id long, text string"
    ).write.parquet(sub)
    out = str(tmp_path / "small.arpa")
    assert main(["arpa-filter", model, sub, "text", out]) == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["out"] == out
    before = summary["ngrams"]["before"]
    after = summary["ngrams"]["after"]
    assert sum(after.values()) < sum(before.values())

    from krnel_graph_spark.functions.arpa import arpa_load, arpa_score

    docs = spark.createDataFrame(
        [(0, "the cat sat"), (1, "cat the the sat")],
        "doc_id long, text string",
    )
    want = sorted(
        map(
            tuple,
            arpa_score(
                arpa_load(spark, model), docs, "text", "doc_id"
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            arpa_score(
                arpa_load(spark, out), docs, "text", "doc_id"
            ).collect(),
        )
    )
    assert got == want


def test_cli_arpa_export_prune(tmp_path, capsys):
    """--prune thins the listings per level; bad shapes refuse."""
    import re

    from krnel_graph_spark.cli import main
    from krnel_graph_spark.runners.spark_runner import get_spark

    spark = get_spark("test-cli-arpa-prune")
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the dog sat on the log"),
         (2, "the cat sat on the rug")],
        "doc_id long, text string",
    ).write.parquet(src)

    full = str(tmp_path / "full.arpa")
    assert main(["arpa-export", src, "text", full, "--order", "4"]) == 0
    capsys.readouterr()
    pruned = str(tmp_path / "pruned.arpa")
    assert main(
        ["arpa-export", src, "text", pruned, "--order", "4",
         "--prune", "0,1,1"]
    ) == 0
    capsys.readouterr()

    def counts(path):
        return {
            int(m[1]): int(m[2])
            for m in re.finditer(
                r"ngram (\d)=(\d+)", open(path, encoding="utf-8").read()
            )
        }
    cf, cp = counts(full), counts(pruned)
    assert cp[1] == cf[1]  # unigrams never pruned
    assert sum(cp.values()) < sum(cf.values())

    assert main(
        ["arpa-export", src, "text", pruned, "--order", "4",
         "--prune", "1,2"]
    ) == 2
    assert main(
        ["arpa-export", src, "text", pruned, "--order", "4",
         "--prune", "a,b,c"]
    ) == 2
