"""Job-submission orchestration — the engine's analog of the reference's
submit DAG (airflow/dags/crypto_pipeline_submit_dag.py:34-44: a
spark-submit argv assembled with master/jars/name and the app file, plus
the monitor DAG's freshness gate as the post-launch health check).

Kept deliberately thin and side-effect-injected: the argv builder is a
pure function, and the retry loop takes the process runner / sleeper /
health probe as callables, so the whole orchestration path is unit-tested
without a cluster. In production the defaults shell out to spark-submit.
The CLI's ``submit`` command passes no health check, so a launch counts as
healthy when spark-submit exits 0; ``monitor.freshness_ok`` against the
serving table becomes the check once a ``stream`` pipeline command wires
it in.
"""

from __future__ import annotations

import subprocess
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass


def build_spark_submit(
    app: str,
    *,
    master: str,
    name: str,
    jars: Sequence[str] = (),
    app_args: Sequence[str] = (),
) -> list[str]:
    """Assemble the spark-submit argv (reference submit DAG command shape:
    spark-submit --master <url> --jars <csv> --name <app> <file>)."""
    cmd = ["spark-submit", "--master", master, "--name", name]
    if jars:
        cmd += ["--jars", ",".join(jars)]
    cmd.append(app)
    cmd += list(app_args)
    return cmd


@dataclass(frozen=True)
class SubmitOutcome:
    attempts: int
    returncode: int
    healthy: bool

    @property
    def ok(self) -> bool:
        return self.returncode == 0 and self.healthy


def submit_with_retry(
    cmd: Sequence[str],
    *,
    retries: int = 3,
    health_check: Callable[[], bool] | None = None,
    runner: Callable[[Sequence[str]], int] | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> SubmitOutcome:
    """Launch with bounded exponential-backoff retries and a health gate.

    A launch counts as successful only when the process exits 0 AND the
    health probe passes (the reference splits these across two DAGs —
    submit + freshness monitor; here one call owns the whole contract).
    Backoff starts at 5 s, doubles per attempt and caps at 60 s, the same
    envelope as the reference producer's reconnect loop
    (producer/producer.py:115).
    """
    runner = runner or (lambda c: subprocess.call(list(c)))
    attempts = 0
    rc = -1
    for attempt in range(retries + 1):
        attempts = attempt + 1
        rc = runner(cmd)
        if rc == 0:
            if health_check is None or health_check():
                return SubmitOutcome(attempts=attempts, returncode=0, healthy=True)
            rc = 0  # launched but unhealthy: retry like a failure
        if attempt < retries:
            sleep(min(5.0 * 2**attempt, 60.0))
    return SubmitOutcome(attempts=attempts, returncode=rc, healthy=False)
