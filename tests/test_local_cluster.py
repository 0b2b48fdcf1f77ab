"""A multi-executor tier: one ``local-cluster[2,1,1024]`` session, whose
two executors are separate JVMs on this host, run in a subprocess (a
process holds one SparkContext) from a working directory outside the
repo. The engine must reach its executors, a store hit must equal a
local compute, and a pinned frame must survive the loss of an executor
and be released by its scope."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest
from conftest import SF_DIR

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(TESTS_DIR)
MASTER = "local-cluster[2,1,1024]"

TEXT = {
    "text": ["alpha beta", "gamma", "delta epsilon zeta", "eta", "theta iota"],
    "score": [1.0, 2.0, 3.0, 4.0, 5.0],
}


def llm_column(runner):
    """A stored LLM column next to a plain column of its dataset."""
    ds = runner.from_inline_dataset(TEXT)
    return ds.col_text("text").llm_logit_scores(
        "fake:dim4", tokens=["yes"]
    ).col(0) + ds.col_score("score")


def base_frame(spark):
    from pyspark.sql import functions as F

    return spark.range(0, 20_000, 1, 4).select(
        "id", (F.col("id") % 7).alias("k")
    )


def pinned_counts(frame) -> list:
    return sorted(tuple(r) for r in frame.groupBy("k").count().collect())


def observe(spark, store: str) -> dict:
    """What both sessions compute: a stored LLM column and its hit from a
    fresh runner, KN3 scores over the documents, and the pin frame's
    counts."""
    from krnel_graph_spark import SparkRunner

    out = {}
    for key in ("llm", "llm_hit"):
        runner = SparkRunner(spark=spark, store_path=store)
        out[key] = runner.to_pandas(llm_column(runner))
    lazy = SparkRunner(spark=spark, store_path=None)
    ds = lazy.from_parquet(f"{SF_DIR}/documents.parquet")
    train = ds.mask_rows(ds.col_categorical("lang").is_in({"en"}))
    kn3 = lazy.to_pandas(ds.kneser_ney3_score(train, "text"))
    out["kn3"] = kn3.sort_values("doc_id").reset_index(drop=True)
    out["counts"] = pinned_counts(base_frame(spark))
    return out


_SCRIPT = """
import os, pickle, signal, sys, time
sys.path[:0] = [{repo!r}, {tests!r}]
from krnel_graph_spark import get_spark
from krnel_graph_spark.functions.partitioning import pin, pin_scope
import test_local_cluster as t

spark = get_spark("local-cluster-test")
sc = spark.sparkContext
out = t.observe(spark, {store!r})
out["master"] = sc.master
out["daemon"] = sc.getConf().get("spark.python.daemon.module")


def executor_pids():
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{{pid}}/cmdline", "rb") as f:
                argv = f.read().split(b"\\0")
        except OSError:
            continue
        if (
            b"org.apache.spark.executor.CoarseGrainedExecutorBackend" in argv
            and sc.applicationId.encode() in argv
        ):
            pids.append(int(pid))
    return sorted(pids)


persistent = sc._jsc.getPersistentRDDs().size()
with pin_scope():
    pinned = pin(t.base_frame(spark), eager=True)
    level = pinned.storageLevel
    out["level"] = (level.useMemory, level.useDisk)
    out["cached_parts"] = sum(
        info.numCachedPartitions() for info in sc._jsc.sc().getRDDStorageInfo()
    )
    pids = executor_pids()
    out["executors"] = len(pids)
    os.kill(pids[0], signal.SIGKILL)
    while pids[0] in executor_pids():
        time.sleep(0.1)
    out["counts_after_kill"] = t.pinned_counts(pinned)
level = pinned.storageLevel
out["level_after_scope"] = (level.useMemory, level.useDisk)
out["released"] = sc._jsc.getPersistentRDDs().size() == persistent

with open({result!r}, "wb") as f:
    pickle.dump(out, f)
spark.stop()
"""


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """``(cluster, local)``: what the local-cluster session saw, and the
    same graphs computed in this process while it ran."""
    if not os.path.isdir("/proc"):
        pytest.skip("executor processes are found through /proc")
    work = tmp_path_factory.mktemp("local_cluster")
    result = work / "result.pkl"
    script = _SCRIPT.format(
        repo=REPO_ROOT,
        tests=TESTS_DIR,
        store=str(work / "cluster_store"),
        result=str(result),
    )
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS", "SPARK_GRAFT_CPUS")
    }
    env.update(MASTER=MASTER, SPARK_DRIVER_MEMORY="1g")
    log = work / "stderr.log"
    with open(log, "w") as err, subprocess.Popen(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=str(work),
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=err,
    ) as proc:
        try:
            local = observe(spark, str(work / "local_store"))
            proc.wait(timeout=600)
        finally:
            proc.kill()
    assert proc.returncode == 0, log.read_text()[-3000:]
    return pd.read_pickle(result), local


def test_session_runs_on_the_requested_master(runs):
    cluster, _ = runs
    assert cluster["master"] == MASTER
    assert cluster["daemon"] == "krnel_graph_spark.runners.worker_daemon"


def test_stored_llm_column_and_its_hit_equal_local_compute(runs):
    cluster, local = runs
    pd.testing.assert_frame_equal(cluster["llm"], local["llm"])
    pd.testing.assert_frame_equal(cluster["llm_hit"], local["llm"])


def test_kn3_scores_equal_in_process(runs):
    cluster, local = runs
    assert len(local["kn3"]) == 500
    pd.testing.assert_frame_equal(cluster["kn3"], local["kn3"])


def test_pin_persists_survives_executor_loss_and_is_released(runs):
    cluster, local = runs
    assert cluster["level"] == (True, True)
    assert cluster["cached_parts"] > 0
    assert cluster["executors"] == 2
    assert cluster["counts_after_kill"] == cluster["counts"] == local["counts"]
    assert cluster["level_after_scope"] == (False, False)
    assert cluster["released"]
