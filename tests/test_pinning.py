"""The pinning policy (``functions.partitioning.pin`` / ``pin_scope``):
a local master checkpoints, any other master persists and releases per
scope, and no other module in the package pins on its own."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from conftest import SF_DIR, jobs_during
from pyspark.sql import functions as F

import krnel_graph_spark
from krnel_graph_spark.functions import partitioning
from krnel_graph_spark.functions.partitioning import pin, pin_scope


@pytest.fixture()
def cluster_policy(spark, monkeypatch):
    """Force the cluster branch of ``pin`` on the local session, and
    drop whatever it cached once the test is done."""
    monkeypatch.setattr(partitioning, "_local_master", lambda master: False)
    yield
    spark.catalog.clearCache()


def _frame(spark):
    return spark.range(200).select("id", (F.col("id") % 7).alias("k"))


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_local_master_predicate():
    assert partitioning._local_master("local")
    assert partitioning._local_master("local[4]")
    assert partitioning._local_master("local[*]")
    assert not partitioning._local_master("yarn")
    assert not partitioning._local_master("spark://host:7077")
    assert not partitioning._local_master("local-cluster[2,1,1024]")
    # local-cluster executors are separate JVMs, but on the driver's host
    for master in ("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"):
        assert partitioning._same_host_master(master)
    assert not partitioning._same_host_master("yarn")
    assert not partitioning._same_host_master("spark://host:7077")
    assert not partitioning._same_host_master("k8s://https://host:443")


def test_spark_graft_cpus_sizes_only_a_local_master():
    sized = partitioning._sized_master
    assert sized("local[*]", "4") == "local[4]"
    assert sized("local", "4") == "local[4]"
    assert sized("local[2]", None) == "local[2]"
    assert sized("local-cluster[2,1,1024]", "4") == "local-cluster[2,1,1024]"
    assert sized("spark://host:7077", "4") == "spark://host:7077"


def test_local_pin_is_a_checkpoint_not_a_cache(spark):
    df = _frame(spark)
    pinned = pin(df)
    assert pinned is not df
    assert not _cached(pinned)  # not registered with the CacheManager
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan  # lineage truncated
    assert sorted(pinned.collect()) == sorted(df.collect())


def test_local_pin_eagerness(spark):
    # shuffle-free: with AQE, building a shuffled frame's RDD already
    # runs its map stages, eager or not
    df = _frame(spark).filter("k = 1")
    assert jobs_during(spark, lambda: pin(df)) == 0
    assert jobs_during(spark, lambda: pin(df, eager=True)) >= 1


def test_local_scope_is_a_no_op(spark):
    with pin_scope() as scope:
        pinned = pin(_frame(spark), eager=True)
        assert list(scope) == []
    assert pinned.count() == 200


def test_cluster_pin_persists_memory_and_disk(spark, cluster_policy):
    df = _frame(spark)
    pinned = pin(df)
    level = pinned.storageLevel
    assert (level.useMemory, level.useDisk, level.useOffHeap) == (
        True, True, False,
    )
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan  # lineage kept behind the cache
    lazy = _frame(spark).filter("k = 1")
    assert jobs_during(spark, lambda: pin(lazy)) == 0
    eager = _frame(spark).filter("k = 2")
    assert jobs_during(spark, lambda: pin(eager, eager=True)) >= 1


def test_cluster_scope_releases_on_exit(spark, cluster_policy):
    outside = pin(_frame(spark).filter("k = 3"))
    with pin_scope() as scope:
        inner = pin(_frame(spark).filter("k = 4"), eager=True)
        kept = scope.keep(pin(_frame(spark).filter("k = 5")))
        assert _cached(inner) and _cached(kept)
        assert [f is inner for f in scope] == [True]
    assert not _cached(inner)
    assert _cached(kept)  # handed out of the scope
    assert _cached(outside)  # pinned before the scope opened


def test_cluster_scope_releases_on_error(spark, cluster_policy):
    with pytest.raises(RuntimeError, match="boom"):
        with pin_scope():
            pinned = pin(_frame(spark).filter("k = 6"), eager=True)
            assert _cached(pinned)
            raise RuntimeError("boom")
    assert not _cached(pinned)


def test_cluster_nested_scope_keep_moves_to_parent(spark, cluster_policy):
    with pin_scope() as outer:
        with pin_scope() as inner:
            kept = inner.keep(pin(_frame(spark).filter("k = 0")))
        assert _cached(kept)
        assert [f is kept for f in outer] == [True]
    assert not _cached(kept)


def _components(spark):
    from krnel_graph_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21), (4, 5)],
        "a long, b long",
    )
    return sorted(
        tuple(r) for r in connected_components(edges, "a", "b").collect()
    )


def test_connected_components_same_under_cluster_policy(spark, monkeypatch):
    local = _components(spark)
    monkeypatch.setattr(partitioning, "_local_master", lambda master: False)
    try:
        assert _components(spark) == local
    finally:
        spark.catalog.clearCache()
    assert {c for _, c in local} == {1, 10, 20}


def _kn_scores(spark):
    from krnel_graph_spark import SparkRunner

    runner = SparkRunner(spark=spark, store_path=None)
    ds = runner.from_parquet(f"{SF_DIR}/documents.parquet")
    train = ds.mask_rows(ds.col_categorical("lang").is_in({"en"}))
    pdf = runner.to_pandas(ds.kneser_ney3_score(train, "text"))
    return pdf.sort_values("doc_id").reset_index(drop=True)


def test_kn_score_op_same_under_cluster_policy(spark, monkeypatch):
    local = _kn_scores(spark)
    monkeypatch.setattr(partitioning, "_local_master", lambda master: False)
    try:
        cluster = _kn_scores(spark)
    finally:
        spark.catalog.clearCache()
    assert len(local) == 500
    assert cluster.equals(local)


_PIN_CALL = re.compile(
    r"localCheckpoint\(|\.persist\(|\.unpersist\(|StorageLevel"
)


def test_pins_only_in_the_policy_module():
    """Every pin in the package goes through ``partitioning.pin``: no
    other module checkpoints, persists, unpersists or picks a storage
    level itself."""
    root = Path(krnel_graph_spark.__file__).parent
    policy = root / "functions" / "partitioning.py"
    offenders = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path != policy
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if _PIN_CALL.search(line)
    ]
    assert offenders == []


_MASTER_ENV = re.compile(
    r"""(environ|getenv)[^\n]*["'](SPARK_MASTER|MASTER|SPARK_SHUFFLE_PARTITIONS)["']"""
)
_MASTER_STRING = re.compile(r"""["'](local\[|local-cluster\[)""")


def test_master_is_classified_only_in_the_policy_module():
    """The session's master is what Spark resolved: no module reads the
    master or shuffle-partition variables from the environment, and
    only the policy module tests master strings."""
    root = Path(krnel_graph_spark.__file__).parent
    policy = root / "functions" / "partitioning.py"
    env_reads, master_tests = [], []
    for path in sorted(root.rglob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            where = f"{path.relative_to(root)}:{i}"
            if _MASTER_ENV.search(line):
                env_reads.append(where)
            if path != policy and _MASTER_STRING.search(line):
                master_tests.append(where)
    assert env_reads == []
    assert master_tests == []
