"""Spark process control for the benchmark: environment pinning, session
start and restart, the py4j command counter, status REST reads and the
teardown that waits for the driver JVM to exit."""

from __future__ import annotations

import datetime as _dt
import json
import os
import shlex
import subprocess
import tempfile
import time
import urllib.request

from metrics import proc_peak_rss_kb, python_peak_rss_kb


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work_dir: str) -> int:
    """Pin the engine to this box before the package is imported: task
    threads and shuffle partitions to nproc (the package default, 32,
    oversubscribes small boxes), scratch and temp files under ``work_dir``,
    the status UI on loopback. Returns nproc."""
    n = nproc()
    local, tmp = os.path.join(work_dir, "spark-local"), os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    confs = {
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.host": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return n


def start(master: str):
    """get_spark on ``master``: a fresh SparkContext (the JVM is launched on
    the first call and reused after a stop)."""
    from crypto_trading_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Py4jCounter:
    """Counts py4j commands the Python side sends to the JVM while it is
    on (``with counter:``), by shadowing the gateway client's send_command;
    leaving the block restores the client untouched. Memory-release
    commands are left out: Python's garbage collector sends them whenever
    it frees a proxy, so they would make the count vary run to run."""

    def __init__(self):
        self._n = 0
        self._client = None

    def __enter__(self):
        from pyspark import SparkContext

        client = SparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith("m\n"):
                self._n += 1
            return orig(command, *args, **kwargs)

        client.send_command = send_command
        self._client = client
        return self

    def __exit__(self, *exc):
        del self._client.send_command
        self._client = None

    @property
    def value(self) -> int:
        return self._n


def clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def settled_jobs(spark, timeout_s: float = 10.0) -> list[dict]:
    """All jobs the status store retains, once the listener has caught up
    (no job still RUNNING and the count stable across two reads)."""
    prev, deadline = None, time.monotonic() + timeout_s
    while True:
        jobs = _get(spark, "jobs")
        done = all(j["status"] != "RUNNING" for j in jobs)
        if (done and prev == len(jobs)) or time.monotonic() > deadline:
            return jobs
        prev = len(jobs) if done else None
        time.sleep(0.1)


def stages(spark) -> dict[int, dict]:
    """Latest attempt of every retained stage, keyed by stage id."""
    out: dict[int, dict] = {}
    for s in _get(spark, "stages"):
        cur = out.get(s["stageId"])
        if cur is None or s["attemptId"] > cur["attemptId"]:
            out[s["stageId"]] = s
    return out


def task_skew(spark, stage: dict) -> float | None:
    """max / median task duration of one stage."""
    try:
        q = _get(spark, f"stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["duration"]
    except Exception:  # noqa: BLE001 — skipped stages carry no summary
        return None
    return mx / med if med > 0 else None


def epoch_ms(rest_time: str) -> float:
    """Status API timestamp ('2024-01-01T00:00:00.123GMT') to epoch ms."""
    t = _dt.datetime.strptime(rest_time, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000.0


def stage_totals(stage_list: list[dict]) -> dict:
    """Executor-side sums over stages (skipped stages contribute zero)."""
    tot = dict.fromkeys(
        ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "scan_bytes"), 0.0)
    for s in stage_list:
        tot["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
        tot["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        tot["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        tot["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        tot["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        tot["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        tot["scan_bytes"] += s.get("inputBytes", 0)
    return tot


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    pid = jvm_pid()
    jvm = proc_peak_rss_kb(pid) if pid is not None else None
    return (python_peak_rss_kb() + (jvm or 0)) / 1024.0


def shutdown(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM is stopped below anyway
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
