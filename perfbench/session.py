"""Session sizing, set-up timing, memory and Spark monitoring.

The session is sized to the machine through the environment variables the
engine already reads (``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEMORY``) plus
Spark's own ``SPARK_LOCAL_DIRS``; all scratch space stays under the run's
output directory.
"""


import hashlib
import json
import os
import platform
import subprocess
import time
import urllib.request
from typing import Optional

WARMUP_ROWS = 20_000


def box_info(repo_root: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "nproc": cpus,
        "ram_gb": round(ram / 2**30, 2),
        "python": platform.python_version(),
        "commit": _commit(repo_root),
        "source_sha256": _source_digest(repo_root),
    }


def _commit(repo_root: str) -> str:
    """HEAD of the checkout, when the checkout is its own git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", repo_root, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2:
        return "unknown"
    if os.path.realpath(lines[0]) != os.path.realpath(repo_root):
        return "unknown"
    return lines[1]


def _source_digest(repo_root: str) -> str:
    """sha256 over the engine's Python sources: identifies the program
    under test where no git metadata is available."""
    h = hashlib.sha256()
    pkg = os.path.join(repo_root, "krnel_graph_spark")
    files = [os.path.join(pkg, "..", "__spark_entry__.py")]
    for root, _dirs, names in os.walk(pkg):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    for path in sorted(files, key=lambda p: os.path.relpath(p, repo_root)):
        h.update(os.path.relpath(path, repo_root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def configure_env(out_dir: str, box: dict) -> dict:
    """Export the sizing variables before pyspark starts the JVM."""
    local = os.path.join(out_dir, "spark-local")
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    driver_gb = max(1, min(8, int(box["ram_gb"] // 4)))
    env = {
        "SPARK_GRAFT_CPUS": str(box["nproc"]),
        "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": local,
        # Keep Python and JVM temp files inside the output directory and
        # ignore any per-user engine config file.
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "KRNEL_SPARK_CONFIG_FILE": os.path.join(out_dir, "no-config.json"),
        "SPARK_GRAFT_LOG_LEVEL": "WARNING",
    }
    for key in ("SPARK_MASTER", "MASTER", "SPARK_SHUFFLE_PARTITIONS"):
        os.environ.pop(key, None)
    os.environ.update(env)
    return env


def _warm_up(spark) -> None:
    """One SQL job and one pandas-UDF job over every core, so the JVM's
    first-job costs and the Python worker pool are paid here."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, WARMUP_ROWS, 1, n)
    df.groupBy((F.col("id") % 7).alias("k")).count().collect()
    df.select(plus_one("id").alias("x")).agg(F.sum("x")).collect()


def start_session(app_name: str = "perfbench"):
    """JVM launch, ``get_spark`` and warm-up; returns ``(spark, seconds)``."""
    from krnel_graph_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name)
    spark.sparkContext.setLogLevel("ERROR")
    _warm_up(spark)
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its parent's pipe closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------- #
# Memory                                                                  #
# ---------------------------------------------------------------------- #


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident sets of this driver process and of the Spark JVM."""
    me = os.getpid()
    jvm_kb = sum(_peak_rss_kb(p) for p in _descendants(me) if _is_jvm(p))
    return _peak_rss_kb(me) / 1024, jvm_kb / 1024


# ---------------------------------------------------------------------- #
# Spark monitoring (statusTracker + the loopback REST endpoint)           #
# ---------------------------------------------------------------------- #


class SparkMonitor:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        url = self.sc.uiWebUrl or ""
        port = url.rsplit(":", 1)[-1] if url else ""
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
            if port.isdigit()
            else None
        )

    def set_request(self, request_id: Optional[str]) -> None:
        if request_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(request_id, request_id)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def per_request(self, request_ids: list[str]) -> dict[str, dict]:
        """jobs / stages / tasks / executor run time / shuffle write /
        input bytes for each job group (= request)."""
        tracker = self.sc.statusTracker()
        jobs_of = {r: list(tracker.getJobIdsForGroup(r)) for r in request_ids}
        stages = {}
        if self.base:
            try:
                for st in self._get("/stages"):
                    if st.get("status") == "COMPLETE":
                        stages[st["stageId"]] = st
                job_stages = {
                    j["jobId"]: j.get("stageIds", []) for j in self._get("/jobs")
                }
            except (OSError, ValueError):
                job_stages = {}
        else:
            job_stages = {}
        out = {}
        for rid, job_ids in jobs_of.items():
            stage_ids = {s for j in job_ids for s in job_stages.get(j, [])}
            ran = [stages[s] for s in stage_ids if s in stages]
            out[rid] = {
                "jobs": len(job_ids),
                "stages": len(ran),
                "tasks": sum(s.get("numCompleteTasks", 0) for s in ran),
                "executor_run_s": sum(s.get("executorRunTime", 0) for s in ran) / 1e3,
                "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in ran),
                "input_bytes": sum(s.get("inputBytes", 0) for s in ran),
            }
        return out
