"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

For every workload: one short untraced run must print every end-to-end
metric named in BENCHMARK.json with no failed op, and one traced run
must print every per-layer metric with trace.unattributed_jobs == 0.
Then a run with one row dropped from a query result before its check
must count that op as failed, and the benchmark copied alone into an
empty directory must exit non-zero without a result line. Exits 0 when
all of that holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def result(args: list[str], cwd: str = REPO) -> tuple[int, dict | None]:
    """Run perfbench/run.py of the checkout at ``cwd``."""
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=400,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        return p.returncode, None


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"] for m in spec["end_to_end"]}
    per_layer = {m["name"] for m in spec["per_layer"]}
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, names in ((0, e2e), (1, per_layer)):
            rc, out = result(
                ["--workload", w, "--seed", "1", "--seconds", "1",
                 "--trace", str(trace), "--fixture", "sf0.001"]
            )
            expect(rc == 0 and out is not None, f"{w} trace={trace}: exit 0 with a result line")
            if out is None:
                continue
            expect(set(out["metrics"]) == names, f"{w} trace={trace}: emits exactly the named metrics")
            expect(out["failed"] == 0 and out["correct"], f"{w} trace={trace}: no failed op")
            if trace:
                unattributed = out["metrics"].get("trace.unattributed_jobs", {}).get("value")
                expect(unattributed == 0, f"{w}: every Spark job attributed to a span")

    rc, out = result(
        ["--workload", "queries", "--seed", "1", "--seconds", "1",
         "--trace", "0", "--fixture", "sf0.001", "--corrupt"]
    )
    expect(
        out is not None and out["failed"] >= 1 and not out["correct"],
        "a result with one row dropped counts as a failed op",
    )

    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".state", ".cache", ".records", "__pycache__"))
        rc, out = result(["--workload", "queries", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
        expect(rc != 0 and out is None, "without the engine: non-zero exit, no result line")

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
