"""Layered lakehouse benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--record PATH]

Runs one workload (see BENCHMARK.json and perfbench/README.md) as a
closed loop with one client on local[2], in at least two passes of
the same ops, checks every result against an independent DuckDB
computation after the timed phase, and prints every metric with its
unit; the end-to-end metrics take each op's best time over the passes. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}, holding the
end-to-end metrics with --trace 0 and the per-layer metrics with
--trace 1. The full run record (per-op latencies, per-query layer
counters, spans) goes to --record, or by default under
perfbench/.records/.

Everything the run writes lives in one state root under
perfbench/.state/, removed on exit and on any exception.
"""

from __future__ import annotations

import time

T_TOP = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = os.path.join(REPO, "lakehouse_homeserver_spark")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


AGE_AT_TOP = process_age_s()


def age() -> float:
    """Seconds since this process started."""
    return AGE_AT_TOP + (time.perf_counter() - T_TOP)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", help="write the run record here")
    ap.add_argument(
        "--fixture",
        help="self-test only: read every workload's inputs at this scale (e.g. sf0.001)",
    )
    ap.add_argument(
        "--corrupt",
        action="store_true",
        help="self-test only: drop one row of the first result before its check",
    )
    return ap.parse_args(argv)


# Nominal seconds of one pass of a workload; --seconds buys whole
# passes of the same fixed work, never partial ones, and at least two:
# every op's time is its best over the passes.
PASS_SECONDS = 10.0
MIN_PASSES = 2
TASK_SLOTS = 2


def lakehouse_tmp_fixtures() -> dict[str, float]:
    """The engine's cross-process fixtures at fixed /tmp paths."""
    try:
        names = os.listdir("/tmp")
    except OSError:
        return {}
    return {
        n: os.path.getmtime(os.path.join("/tmp", n))
        for n in names
        if n.startswith("lakehouse-") and not n.startswith("lakehouse-scratch-")
    }


def fixture_report(before: dict[str, float], after: dict[str, float]) -> dict:
    """Fixtures that existed when the run started (a run that read one
    would have reused it) and those the run created or rewrote."""
    return {
        "present_at_start": sorted(before),
        "written": sorted(n for n, t in after.items() if before.get(n) != t),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def best_times(ops) -> dict[str, float]:
    """Each op's best (lowest) latency over the run's passes. The host's
    CPU speed swings by tens of percent within seconds, and only ever
    makes an op slower, so the best of several tries is the steady
    estimate of what the op costs."""
    best: dict[str, float] = {}
    for o in ops:
        best[o.key] = min(best.get(o.key, o.seconds), o.seconds)
    return best


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != "0":
        # A fixed string hash in this process and in the Python workers
        # it starts, so set and dict orders do not vary between runs.
        os.execve(
            sys.executable,
            [sys.executable, os.path.abspath(__file__), *argv],
            {**os.environ, "PYTHONHASHSEED": "0"},
        )
    if not os.path.isdir(PACKAGE):
        print(f"engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    import workloads  # noqa: E402

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {workloads.WORKLOADS}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, _raise_exit)
    untraced = None
    if args.trace:
        # The tracing overhead is measured against an untraced run of
        # the same workload and seed, in its own process, run first.
        untraced = run_untraced_child(args)

    os.makedirs(os.path.join(HERE, ".state"), exist_ok=True)
    root = tempfile.mkdtemp(prefix="lakehouse-scratch-perfbench-", dir=os.path.join(HERE, ".state"))
    try:
        return run(args, root, untraced)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _raise_exit(signum, frame):
    raise SystemExit(128 + signum)


def code_digest() -> str:
    """Digest of the engine and benchmark sources a run executes."""
    import hashlib

    h = hashlib.sha256()
    for top in (PACKAGE, HERE):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if not x.startswith(".") and x != "__pycache__")
            for f in sorted(files):
                if f.endswith((".py", ".sh")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, REPO).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def run_untraced_child(args) -> dict:
    """An untraced record of the same workload, length and code. Every
    seed does the same work, so the record of this seed, or else of any
    seed, left in perfbench/.records/ by an earlier run is reused;
    without one, a child process makes it now."""
    digest = code_digest()
    want = {"workload": args.workload, "seconds": args.seconds, "fixture": args.fixture}
    same_seed = default_record_path(args.workload, args.seed, 0)
    paths = sorted(
        glob.glob(default_record_path(args.workload, "*", 0)),
        key=lambda p: p != same_seed,
    )
    for path in paths:
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            continue
        if rec.get("code_digest") == digest and all(rec.get(k) == v for k, v in want.items()):
            return rec
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0", "--record", same_seed,
    ]
    if args.fixture:
        cmd += ["--fixture", args.fixture]
    child = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
    try:
        rc = child.wait(timeout=175)
    except BaseException:  # timeout or SIGTERM: let the child clean up
        child.terminate()
        child.wait(timeout=60)
        raise
    if rc != 0:
        raise RuntimeError(f"untraced run exited with {rc}")
    with open(same_seed) as fh:
        return json.load(fh)


def task_slots() -> int:
    """Spark task slots: at most two, and fewer than the cores when
    there are several, so the driver's Python, the JVM's GC and JIT
    threads and the Python workers are not queued behind the tasks."""
    return max(1, min(TASK_SLOTS, len(os.sched_getaffinity(0)) - 1))


def configure_root(root: str) -> dict[str, str]:
    """Point every place Spark and the engine write at the state root."""
    paths = {k: os.path.join(root, k) for k in ("work", "tmp", "local", "warehouse", "eventlog")}
    for p in paths.values():
        os.makedirs(p)
    os.environ["TMPDIR"] = paths["tmp"]
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    os.chdir(paths["work"])
    return paths


def run(args, root: str, untraced: dict | None) -> int:
    import workloads
    from spans import Tracer, find_event_log

    paths = configure_root(root)
    tracer = Tracer(enabled=bool(args.trace))
    fixtures_before = lakehouse_tmp_fixtures()
    wl = workloads.make(args.workload, args.fixture)
    passes = max(MIN_PASSES, round(args.seconds / PASS_SECONDS))

    conf = {
        # A fixed, pre-touched heap: peak RSS then does not depend on
        # when G1 chose to grow the heap, only on what lives off-heap.
        # No perf-data file, which the JVM would write under /tmp.
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={paths['tmp']} -Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": paths["warehouse"],
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + paths["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    spark = None
    phases: dict[str, float] = {}  # seconds since process start at each phase's end
    try:
        with tracer.span("session.get_spark"):
            from lakehouse_homeserver_spark.session import get_spark, tune_session

            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        with tracer.span("session.tune_session"):
            tune_session(spark)
        from lakehouse_homeserver_spark.sources.registry import register_views

        if wl.needs_views:
            with tracer.span("sources.registry.register_views"):
                register_views(spark, wl.sf_dir)

        r = workloads.Run(spark, tracer, root, REPO, args.seed, passes)
        with tracer.span("bench.prepare"):
            wl.prepare(r)
        wl.warm(r)

        setup_s = phases["setup"] = age()
        r.start_clock()
        for p in range(passes):
            wl.run_pass(r, p)
        r.stop_clock()
        phases["timed"] = age()

        kernels = {}
        if args.trace and args.workload == "queries":
            kernels = run_kernels()

        # -- checks: outside the timed phase -------------------------------
        if args.corrupt:
            corrupt_first_result(r)
        wl.check(r)
        phases["checked"] = age()
        layer_extra = wl.layer_extras(r) if args.trace else {}
        storage, user_bytes = wl.storage(r)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = vm_hwm_mb(jvm_pid)
    finally:
        if spark is not None:
            shutdown(spark)
            phases["stopped"] = age()

    if args.trace:
        tracer.fold_event_log(find_event_log(paths["eventlog"]))

    fixtures_after = lakehouse_tmp_fixtures()
    failed = sum(1 for o in r.ops if not o.ok)
    best = best_times(r.ops)
    pass_s = sum(best.values())
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "op_geomean_s": (statistics.geometric_mean(best.values()), "s"),
        "rows_per_s": (wl.committed_rows(r) / passes / pass_s, "1/s"),
        "driver_peak_rss_mb": (rss_mb, "MB"),
        "storage_amplification": (storage / user_bytes, "x"),
    }
    layers = {}
    if args.trace:
        import layers as layer_metrics

        layers = layer_metrics.compute(
            tracer, r, wl, layer_extra, kernels,
            pass_s=pass_s,
            untraced_pass_s=untraced["metrics"]["pass_s"]["value"],
        )
        layers["failed_ratio"] = (failed / len(r.ops), "ratio")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "fixture": args.fixture,
        "code_digest": code_digest(),
        "passes": passes,
        "inputs": wl.inputs(),
        "wall_s": r.wall_s,
        "phases_s": phases,
        "best_s": best,
        "failed_ratio": failed / len(r.ops),
        "top_spans": [
            {"name": s.name, "seconds": round(s.seconds, 4)}
            for s in tracer.spans
            if s.parent is None and s.op is None
        ],
        "ops": [
            {
                "id": o.id, "name": o.name, "key": o.key, "pass": o.pass_idx,
                "seconds": round(o.seconds, 6), "ok": o.ok, "error": o.error,
                "rows": o.rows,
                **{k: v for k, v in o.extra.items() if isinstance(v, (int, float, str, type(None)))},
            }
            for o in r.ops
        ],
        "tmp_fixtures": fixture_report(fixtures_before, fixtures_after),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in (layers if args.trace else e2e).items()},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    if args.trace:
        record["spans"] = tracer.to_records()
        record["unattributed_jobs"] = tracer.unattributed_jobs
        record["per_query"] = layer_metrics.per_query(tracer, r)
        record["untraced_baseline"] = {
            "seed": untraced["seed"],
            "pass_s": untraced["metrics"]["pass_s"]["value"],
        }
    write_record(args, record)

    shown = layers if args.trace else e2e
    for k, (v, u) in shown.items():
        print(f"{k:<44} {v:>16.6g} {u}")
    print(f"{len(r.ops)} ops attempted ({len(best)} distinct, {passes} passes), {failed} failed")
    for o in r.ops:
        if not o.ok:
            print(f"FAILED op {o.id} {o.name}: {o.error}")
    if record["tmp_fixtures"]["written"]:
        print(f"/tmp fixtures written by this run: {record['tmp_fixtures']['written']}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(r.ops),
                "failed": failed,
                "metrics": record["metrics"],
            }
        )
    )
    return 0


def shutdown(spark) -> None:
    """Stop the session, then end the driver JVM (and with it the
    Python workers) and wait for it, also when stopping failed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as e:  # the JVM may be gone or mid-interrupt
        print(f"spark.stop failed: {e!r}", file=sys.stderr)
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def corrupt_first_result(r) -> None:
    """Drop one row of the first query result before its check."""
    for o in r.ops:
        if o.ok and hasattr(o.result, "iloc") and len(o.result):
            o.result = o.result.iloc[1:]
            return
    raise RuntimeError("no query result to corrupt")


def run_kernels() -> dict:
    """Direct calls into functions.jpeg and functions.minhash on fixed
    inputs; each timed as the median of five repetitions."""
    import generate
    import numpy as np
    from lakehouse_homeserver_spark.functions import jpeg, minhash

    blobs = [jpeg.jpeg_encode_baseline(*planes) for planes in generate.jpeg_inputs()]
    times = []
    for _ in range(5):
        t = time.perf_counter()
        decoded = [jpeg.jpeg_decode_baseline(b) for b in blobs]
        times.append(time.perf_counter() - t)
    ok = all(d.shape[:2] == p[0].shape for d, p in zip(decoded, generate.jpeg_inputs()))
    hashes = generate.minhash_inputs()
    mtimes = []
    for _ in range(5):
        t = time.perf_counter()
        sig = minhash.minhash_from_hashes(hashes, 64)
        mtimes.append(time.perf_counter() - t)
    for d in (0, 7, 1999):
        if len(hashes[d]):
            ref = [int(minhash.perm_hashes(hashes[d], i).view(np.int64).min()) for i in (0, 63)]
            ok &= [int(sig[d, 0]), int(sig[d, 63])] == ref
    if not ok:
        raise RuntimeError("kernel outputs failed their check")
    return {"jpeg": statistics.median(times), "minhash": statistics.median(mtimes)}


def default_record_path(workload: str, seed: int | str, trace: int) -> str:
    return os.path.join(HERE, ".records", f"{workload}-seed{seed}-trace{trace}.json")


def write_record(args, record: dict) -> None:
    path = args.record or default_record_path(args.workload, args.seed, args.trace)
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
