"""Rebuild ORACLE_FPS.json from GIT HISTORY — run-order independent.

Each query's entry is {"code": …, "oracle": …} AS OF THE DRIVER COMMIT of
that query's own LATEST CORRECTNESS row (the "round N: verdict/..." commit
only adds result files, so its sources are exactly the tree the driver
tested):
- "oracle" is the md5 of the registered oracle text (null for rows-only
  queries), dumped by importing that commit's registry in a subprocess;
- "code" is queries.code_fingerprints over `git show <sha>:<module>` of
  the module that defined the query at that commit, computed in this
  process with the same function the package applies to the live tree.

The file records what the driver ACTUALLY verified, so
- running this script at any point in a session is safe (it never reads
  the working tree's sources), and an edit made before or after a run
  still re-enters the driver window; and
- a query edited in round N but NOT driver-checked that round (it missed
  the 50-slot window) keeps the fingerprints of the code its last row
  really proved, so it still re-enters the window.

Historical trees come from scripts/ab.checkout (cached under
.worktrees/ab_<sha>). Queries whose exact-round dump is unavailable are
OMITTED, and an omitted query counts as changed, so it re-enters the
driver window (falling back to a newer round could mask an unverified
edit); queries with no driver row are omitted (they are never-checked and
windowed regardless).

Usage: python scripts/refresh_oracle_fps.py   (any time; idempotent)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from crypto_trading_data_pipeline_spark.queries import (  # noqa: E402
    _driver_check_rounds,
    code_fingerprints,
)
from scripts.ab import _git, checkout  # noqa: E402

_DUMP_SNIPPET = (
    "import sys, os, json, hashlib; sys.path.insert(0, '.'); "
    "from crypto_trading_data_pipeline_spark.queries import REGISTRY; "
    "print(json.dumps({n: [s.oracle and hashlib.md5(s.oracle.encode()).hexdigest(), "
    "os.path.relpath(s.fn.__code__.co_filename)] for n, s in REGISTRY.items()}))"
)


def _driver_commit(rnd: int) -> str | None:
    out = subprocess.run(
        ["git", "log", "-n1", "--format=%H", "--", f"CORRECTNESS_r{rnd:02d}.json"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    return out.stdout.strip() or None


def _fps_at_commit(sha: str) -> dict[str, dict] | None:
    out = subprocess.run(
        [sys.executable, "-c", _DUMP_SNIPPET],
        cwd=checkout(sha),
        capture_output=True,
        text=True,
        timeout=300,
    )
    if out.returncode != 0:
        err = out.stderr.strip().splitlines()
        print(
            f"warn: registry import failed at {sha[:9]}: {err[-1] if err else '?'}",
            file=sys.stderr,
        )
        return None
    dump = json.loads(out.stdout.strip().splitlines()[-1])
    by_module: dict[str, list[str]] = {}
    for n, (_, rel) in dump.items():
        by_module.setdefault(rel, []).append(n)
    fps: dict[str, dict] = {}
    for rel, names in by_module.items():
        code = code_fingerprints(_git("show", f"{sha}:{rel}"), names)
        fps.update({n: {"code": code[n], "oracle": dump[n][0]} for n in names if n in code})
    return fps


if __name__ == "__main__":
    latest, _ = _driver_check_rounds()
    dumps: dict[int, dict[str, dict]] = {}
    for r in sorted(set(latest.values())):
        sha = _driver_commit(r)
        if sha is None:
            print(f"warn: no commit found for round {r}", file=sys.stderr)
            continue
        fps = _fps_at_commit(sha)
        if fps is not None:
            dumps[r] = fps

    # EXACT round only: a newer round's tree may already hold the edit
    # the query's last row never proved.
    fps_out = {q: dumps[r][q] for q, r in latest.items() if q in dumps.get(r, {})}
    omitted = len(latest) - len(fps_out)

    out = os.path.join(REPO, "ORACLE_FPS.json")
    with open(out, "w") as f:
        json.dump(fps_out, f, indent=0, sort_keys=True)
    note = f" ({omitted} omitted: exact-round dump unavailable)" if omitted else ""
    print(f"wrote {out}: {len(fps_out)} fingerprints from git history{note}")
