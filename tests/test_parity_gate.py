"""Slow-tier parity-sweep gate: a sample of `scripts/parity_sweep.py`.

The sf0.1 and adversarial-parallelism sweeps catch cross-engine
divergences (ROUND half-ties, sign-of-zero, decimal-cast accumulation,
SF-calibrated bounds) that the sf0.001 oracle test structurally cannot
see. The full sweeps are manual; this gate runs a sample of the same
axes inside pytest (slow tier, `SPARK_GRAFT_SLOW_TESTS=1`).

Sample per axis:
  * up to 4 edited queries — those reached by any package edit since
    HEAD~1 (the last commit plus uncommitted edits), derived by the
    static call graph in `scripts/edited_queries.py`;
  * 8 rotating names as a TRUE cycle — one FIXED md5(name)-shuffled
    order of all oracle-backed queries; each commit takes the next
    8-name slice (offset = 8 * `git rev-list --count HEAD` mod N,
    wraparound). A cycle, not independent per-commit draws (those
    would cover only ~63% of the registry after N/8 draws — coupon
    collector), so every query passes all axes within ceil(N/8)
    consecutive commits.

If git cannot answer (shallow clone, no git binary) the edited axis is
dropped and the wheel starts at slice 0, with a warning.

Axes:
  * sf0.1 at the default session shape — 100x the oracle test's data;
  * sf0.01 at local[4] / 7 shuffle partitions — partition-count
    invariance;
  * a 4-query slice under local-cluster[2,2,1024] — real executor
    JVMs (driver-JVM-sharing assumptions).

Each axis is one subprocess of the real sweep script (same code the
manual runs use — no second implementation to drift).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SWEEP = os.path.join(REPO, "scripts", "parity_sweep.py")
SCRIPTS = os.path.join(REPO, "scripts")

N_EDITED = 4
N_ROTATING = 8


def _commit_count() -> int:
    out = subprocess.run(
        ["git", "rev-list", "--count", "HEAD"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    return int(out)


def _sample() -> list[str]:
    # sys.path inserts are scoped to this function: a permanent
    # SCRIPTS insert lets scripts/*.py shadow same-named modules for
    # every test that runs after this module in-process.
    saved = list(sys.path)
    sys.path.insert(0, REPO)
    sys.path.insert(0, SCRIPTS)
    try:
        return _sample_inner()
    finally:
        # full snapshot restore: edited_queries inserts REPO again at
        # import time, so removing only our own two entries leaks one
        sys.path[:] = saved


def _sample_inner() -> list[str]:
    from lakehouse_homeserver_spark.registry import all_oracles

    import edited_queries as eq

    oracle_backed = sorted(all_oracles())
    try:
        edited = sorted(
            n for n in eq.compute_hits("HEAD~1") if n in set(oracle_backed)
        )[:N_EDITED]
        turn = _commit_count()
    except (subprocess.CalledProcessError, OSError) as exc:
        # Degenerate GIT state only: fall back to rotation-only rather
        # than skipping the gate. Anything else (a bug in
        # edited_queries itself) must FAIL the gate, not silently drop
        # its highest-value axis.
        import warnings

        warnings.warn(
            f"parity gate: edited-query axis degraded to rotation-only "
            f"({exc!r})",
            stacklevel=2,
        )
        edited, turn = [], 0
    rest = [n for n in oracle_backed if n not in set(edited)]
    # ONE fixed hash-shuffled order; each commit takes the next
    # 8-name slice with wraparound, so consecutive commits tile it.
    wheel = sorted(
        rest, key=lambda n: hashlib.md5(n.encode()).hexdigest()
    )
    start = (N_ROTATING * turn) % len(wheel)
    rotating = (wheel + wheel)[start : start + N_ROTATING]
    return edited + rotating


def _run_sweep(names: list[str], env_extra: dict[str, str]) -> dict:
    env = os.environ | env_extra
    proc = subprocess.run(
        [sys.executable, SWEEP, *names],
        capture_output=True,
        text=True,
        timeout=1500,
        env=env,
        cwd="/tmp",  # outside the repo: keeps the pyds cloudpickle
        # by-value registration covered (verify-skill gotcha)
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, (
        f"sweep produced no summary line (exit {proc.returncode})\n"
        f"stdout tail: {proc.stdout[-2000:]}\n"
        f"stderr tail: {proc.stderr[-2000:]}"
    )
    summary = json.loads(lines[-1])
    assert proc.returncode == 0 and not summary["fails"] and not summary["errs"], (
        f"parity sweep sample diverged: fails={summary['fails']} "
        f"errs={summary['errs']}\nstdout tail: {proc.stdout[-3000:]}"
    )
    return summary


@pytest.fixture(scope="module")
def sample_names() -> list[str]:
    names = _sample()
    assert len(names) >= N_ROTATING, names
    return names


@pytest.mark.slow
def test_parity_sample_at_sf01(sample_names):
    """Axis 1: the sample must hash-match DuckDB at sf0.1, where
    ROUND half-ties and SF-calibrated recall bounds diverge."""
    summary = _run_sweep(
        sample_names,
        {"SPARK_GRAFT_PARITY_SF_DIR": "/root/testdata/sf0.1"},
    )
    assert summary["n"] == len(sample_names)


@pytest.mark.slow
def test_parity_sample_at_adversarial_parallelism(sample_names):
    """Axis 2: same sample at local[4] / 7 shuffle partitions at
    sf0.01 — any result that depends on partition count
    (order-dependent float reductions) is a latent cluster bug."""
    summary = _run_sweep(
        sample_names,
        {
            "SPARK_GRAFT_PARITY_SF_DIR": "/root/testdata/sf0.01",
            "SPARK_GRAFT_PARITY_MASTER": "local[4]",
            "SPARK_GRAFT_PARITY_PARTITIONS": "7",
        },
    )
    assert summary["n"] == len(sample_names)


@pytest.mark.slow
def test_parity_sample_under_local_cluster(sample_names):
    """Axis 3: a 4-query slice of the sample under
    local-cluster[2,2,1024] — separate Worker + executor JVMs, wire
    shuffle, serialized closures, executor-side Python workers. This
    is the topology where driver-JVM-sharing assumptions (broadcast
    object identity, state-store plumbing, the by-value-pickled
    Python data source) break; local[32] structurally cannot falsify
    them. Four queries keep the axis inside the suite budget (~2 min
    incl. cluster startup); the full 22-query run is recorded in
    SCALE.md. PYTHONPATH is exported so executor-side Python workers
    can import package-level kernels (task closures reference them by
    module path)."""
    summary = _run_sweep(
        sample_names[:4],
        {
            "SPARK_GRAFT_PARITY_SF_DIR": "/root/testdata/sf0.01",
            "SPARK_GRAFT_PARITY_MASTER": "local-cluster[2,2,1024]",
            "SPARK_GRAFT_PARITY_PARTITIONS": "7",
            "PYTHONPATH": REPO
            + os.pathsep * bool(os.environ.get("PYTHONPATH", ""))
            + os.environ.get("PYTHONPATH", ""),
        },
    )
    assert summary["n"] == 4


def test_rotation_wheel_cycles_full_registry():
    """The advancing-slice rotation must cover the ENTIRE
    oracle-backed registry within ceil(N/8) consecutive commits even
    as the registry grows (independent per-commit draws would cover
    only ~63%). Simulated directly over the real wheel order."""
    import math

    saved = list(sys.path)
    sys.path.insert(0, REPO)
    try:
        from lakehouse_homeserver_spark.registry import all_oracles

        names = sorted(all_oracles())
    finally:
        sys.path[:] = saved
    wheel = sorted(names, key=lambda n: hashlib.md5(n.encode()).hexdigest())
    n = len(wheel)
    turns_needed = math.ceil(n / N_ROTATING)
    base_turn = 17  # arbitrary start: the property must hold anywhere
    seen: set[str] = set()
    for turn in range(base_turn, base_turn + turns_needed):
        start = (N_ROTATING * turn) % n
        seen.update((wheel + wheel)[start : start + N_ROTATING])
    # consecutive fixed-stride slices with wraparound tile the wheel
    assert seen == set(wheel), (
        f"rotation missed {len(set(wheel) - seen)} of {n} queries "
        f"in {turns_needed} commits"
    )
