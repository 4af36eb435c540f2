"""The two workloads, ``queries`` and ``elt_stream`` (the ELT load loop
and the stream rounds, run in one session). Each one is a closed loop
with one client: the next op starts when the previous one has
returned. An op is timed from the benchmark's call into the engine
until the call returns with its result materialized; every check runs
after the timed phase. Every pass runs the same ops, so each op's best
time over the passes can be taken.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import generate
from check import Oracle, arrow_diff

TESTDATA = "/root/testdata"

# Queries that read or build the cross-process `verified_pairs` fixture,
# which lives at a fixed /tmp path outside the benchmark's state root
# and survives the run: the first run of a checkout would build it and
# every later run (of either commit) would reuse it.
OUTSIDE_ROOT_QUERIES = {
    "k2_dup_clusters",
    "k9_pagerank_dupgraph",
    "k9_triangle_count",
    "k3_contrastive_pairs",
    "k9_cc_bigstar",
}


@dataclass
class OpRecord:
    id: int
    name: str
    kind: str
    pass_idx: int
    key: str  # the same op in every pass: its best time is taken over passes
    seconds: float = 0.0
    ok: bool = True
    error: str | None = None
    rows: int = 0  # result rows (queries) or rows committed (writes)
    result: object = None  # kept in memory until the check
    extra: dict = field(default_factory=dict)

    def fail(self, why: str) -> None:
        if self.ok:
            self.ok = False
            self.error = why[:500]


class Run:
    """What one workload run shares: the session, the tracer, the state
    root and the op records. ``clock`` measures the timed phase with
    the benchmark's own bookkeeping (``paused``) taken out."""

    OP_TIMEOUT_S = 90

    def __init__(self, spark, tracer, root: str, repo_root: str, seed: int, passes: int):
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.repo_root = repo_root
        self.seed = seed
        self.passes = passes
        self.ops: list[OpRecord] = []
        self._t0 = 0.0
        self._paused = 0.0
        self.wall_s = 0.0

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_clock(self) -> None:
        self.tmp_bytes_at_start = dir_bytes(os.path.join(self.root, "tmp"))
        self._t0 = time.perf_counter()

    def stop_clock(self) -> None:
        self.wall_s = time.perf_counter() - self._t0 - self._paused

    @contextmanager
    def paused(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self._paused += time.perf_counter() - t

    def _cancel(self, rec: OpRecord) -> None:
        rec.extra["timed_out"] = True
        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.cancelAllJobs()

    def op(self, name: str, kind: str, pass_idx: int, fn, key: str | None = None) -> OpRecord:
        rec = OpRecord(len(self.ops), name, kind, pass_idx, key or name)
        self.ops.append(rec)
        timer = threading.Timer(self.OP_TIMEOUT_S, self._cancel, (rec,))
        with self.tracer.span(f"op.{kind}", op=rec.id) as s:
            timer.start()
            try:
                rec.result = fn(rec)
            except Exception as e:  # an op that raises is a failed op
                rec.fail(f"{type(e).__name__}: {e}")
            finally:
                timer.cancel()
        rec.seconds = s.seconds
        if rec.extra.get("timed_out"):
            rec.fail(f"timed out after {self.OP_TIMEOUT_S}s")
        return rec


def reset_session_memos(spark) -> None:
    """Drop what the engine memoizes per session between passes, as
    bench.py does, so every pass pays full cost."""
    from lakehouse_homeserver_spark.operators import dedup, text

    spark.catalog.clearCache()
    dedup._PAIRS_MEMO.clear()
    text._BPE_MEMO.clear()


def mine(run: Run, kind: str) -> list[OpRecord]:
    """The run's ops of one kind (a workload may run several)."""
    return [r for r in run.ops if r.kind == kind]


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


class QueryWorkload:
    """Each op runs one registered query: build the frame (time inside
    the query function), then materialize it to the client."""

    kind = "query"
    needs_views = True

    def __init__(self, name: str, strides: dict[str, int], sf: str):
        self.name = name
        self.strides = strides  # module -> sample one of every n queries
        self.sf_dir = os.path.join(TESTDATA, sf)
        self.entries: list[tuple[str, str, object, str | None]] = []

    def prepare(self, run: Run) -> None:
        for m, n in self.strides.items():
            mod = __import__(f"lakehouse_homeserver_spark.operators.{m}", fromlist=[m])
            eligible = [q for q in mod.QUERIES if q not in OUTSIDE_ROOT_QUERIES]
            # Systematic sample: the middle query of every n in
            # registration order.
            self.entries += [
                (m, q, mod.QUERIES[q], mod.ORACLES.get(q)) for q in eligible[n // 2 :: n]
            ]

    def inputs(self) -> dict:
        from lakehouse_homeserver_spark.sources.registry import TABLES

        paths = [os.path.join(self.sf_dir, f"{t}.parquet") for t in TABLES]
        return {
            "sf_dir": self.sf_dir,
            "ops_per_pass": len(self.entries),
            "queries": [q for _, q, _, _ in self.entries],
            "bytes": generate.file_bytes(paths),
            "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in paths),
        }

    def _query(self, run: Run, module: str, fn, rec: OpRecord):
        with run.tracer.span(f"operators.{module}.build"):
            df = fn(run.spark, self.sf_dir)
        with run.tracer.span(f"operators.{module}.exec"):
            pdf = df.toPandas()
        rec.rows = len(pdf)
        rec.extra["module"] = module
        return pdf

    def warm(self, run: Run) -> None:
        """One untimed pass over every op, so the timed pass measures
        warm queries: generated code compiled, JVM and Python workers
        started."""
        with run.tracer.span("warmup"):
            for m, q, fn, _ in self.entries:
                fn(run.spark, self.sf_dir).toPandas()
            reset_session_memos(run.spark)

    def run_pass(self, run: Run, pass_idx: int) -> None:
        if pass_idx:
            with run.paused(), run.tracer.span("reset"):
                reset_session_memos(run.spark)
        by_name = {q: (m, fn) for m, q, fn, _ in self.entries}
        for q in generate.shuffled(list(by_name), run.seed, pass_idx):
            m, fn = by_name[q]
            run.op(q, self.kind, pass_idx, lambda rec, m=m, fn=fn: self._query(run, m, fn, rec))

    def check(self, run: Run) -> None:
        from lakehouse_homeserver_spark.sources.registry import TABLES

        oracle = Oracle(run.repo_root, self.sf_dir, TABLES)
        sql = {q: s for _, q, _, s in self.entries}
        try:
            for rec in run.ops:
                if not rec.ok:
                    continue
                if sql.get(rec.name) is None:
                    rec.fail("no oracle registered")
                    continue
                why = oracle.compare(rec.result, sql[rec.name])
                if why:
                    rec.fail(why)
        finally:
            oracle.close()

    def committed_rows(self, run: Run) -> int:
        return sum(r.rows for r in run.ops if r.ok)

    def storage(self, run: Run) -> tuple[int, int]:
        """(bytes kept on disk, user bytes): the read-only inputs plus
        the scratch the timed queries left behind."""
        inp = self.inputs()["bytes"]
        left = dir_bytes(os.path.join(run.root, "tmp")) - run.tmp_bytes_at_start
        return inp + max(0, left), inp

    def layer_extras(self, run: Run) -> dict:
        return {}


# ---------------------------------------------------------------------------
# elt_stream, part 1: the load loop
# ---------------------------------------------------------------------------


class EltWorkload:
    """The reference's load loop on the commit-log table format, with
    seeded upserts, deletes, compactions, expiries and reads between
    the loads."""

    name = "elt_commits"
    kind = "elt"
    WRITES = ("load_full", "load_incremental", "merge", "delete_where", "compact_files")
    ROWS = 300_000  # the first half of sf0.1 lineitem, in key order

    def __init__(self, sf: str):
        self.sf_dir = os.path.join(TESTDATA, sf)
        self.scripts: list[generate.EltScript] = []
        self.tables: list[str] = []
        self.live: list[tuple[int, int]] = []  # (files read, live files) per scan
        self.seen_files: dict[str, int] = {}

    def prepare(self, run: Run) -> None:
        lineitem = os.path.join(self.sf_dir, "lineitem.parquet")
        # Every pass runs the same script on fresh tables.
        self.scripts = [
            generate.elt_script(
                lineitem, run.dir("elt", f"staged-{p}"), run.seed, 0, limit_rows=self.ROWS
            )
            for p in range(run.passes)
        ]
        self.warm_script = generate.elt_script(
            lineitem, run.dir("elt", "staged-warm"), run.seed, 99,
            schedule=generate.WARM_SCHEDULE, merge_rows=200, insert_rows=50,
            limit_rows=5_000,
        )

    def inputs(self) -> dict:
        s = self.scripts[0]
        return {
            "sf_dir": self.sf_dir,
            "ops_per_pass": len(s.ops),
            "ops": [o.kind for o in s.ops],
            "bytes": s.user_bytes,
            "rows": s.user_rows,
        }

    def warm(self, run: Run) -> None:
        with run.tracer.span("warmup"):
            self._execute(run, self.warm_script, None)

    def run_pass(self, run: Run, pass_idx: int) -> None:
        self._execute(run, self.scripts[pass_idx], pass_idx)

    def _execute(self, run: Run, script: generate.EltScript, pass_idx: int | None) -> None:
        """Run the script; ``pass_idx`` None is the untimed warm-up."""
        from pyspark.sql import functions as F

        from lakehouse_homeserver_spark.sources.ingest import Lakehouse, SnapshotFormat
        from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

        spark, tracer = run.spark, run.tracer
        record = pass_idx is not None
        tag = f"p{pass_idx}" if record else "warm"
        landing = run.dir("elt", f"landing-{tag}")
        warehouse = run.dir("elt", f"warehouse-{tag}")
        with run.paused(), tracer.span("sources.ingest.Lakehouse"):
            lake = Lakehouse(spark, SnapshotFormat(spark, warehouse))
        path = os.path.join(warehouse, "src", "lineitem")
        t = SnapshotTable(spark, path)
        if record:
            self.tables.append(path)
        versions: list[int | None] = []

        def call(op: generate.EltOp, rec: OpRecord | None):
            layer = "sources.ingest" if op.kind.startswith("load") else "sources.snapshot"
            with tracer.span(f"{layer}.{op.kind}"):
                if op.kind == "load_full":
                    n = lake.load_full("lineitem", landing)
                elif op.kind == "load_incremental":
                    n = lake.load_incremental("lineitem", landing)
                elif op.kind == "merge":
                    t.merge(src, on=generate.ELT_KEYS)
                    n = pq.ParquetFile(op.batch).metadata.num_rows
                elif op.kind == "delete_where":
                    pred = (F.col("l_orderkey") >= op.lo) & (F.col("l_orderkey") <= op.hi)
                    t.delete_where(pred, mode="cow", prune_column="l_orderkey", lo=op.lo, hi=op.hi)
                    n = 0
                elif op.kind == "compact_files":
                    t.compact_files(small_file_bytes=4 << 20, target_files=1)
                    n = 0
                elif op.kind == "expire_snapshots":
                    t.expire_snapshots(keep_last=op.keep_last)
                    n = 0
                elif op.kind == "read_version":
                    n = t.read(version=version).count()
                else:  # scan
                    n = t.scan("l_orderkey", op.lo, op.hi).count()
            if rec is not None:
                rec.rows = n if op.kind in ("load_full", "load_incremental", "merge") else 0
                rec.extra["count"] = n
            return n

        for i, op in enumerate(script.ops):
            src = version = None
            with run.paused():
                if op.kind.startswith("load"):
                    dest = os.path.join(landing, "lineitem")
                    os.makedirs(dest, exist_ok=True)
                    os.rename(op.batch, os.path.join(dest, os.path.basename(op.batch)))
                elif op.kind == "merge":
                    with tracer.span("bench.merge_source"):
                        src = spark.read.parquet(op.batch)
                elif op.kind == "read_version":
                    vs = t.versions()
                    version = vs[int(op.pick * len(vs))]
                elif op.kind == "scan" and tracer.enabled and record:
                    self.live.append(
                        (len(t.prune_files("l_orderkey", op.lo, op.hi)), len(t.files()))
                    )
            if record:
                rec = run.op(
                    op.kind, self.kind, pass_idx, lambda r, op=op: call(op, r), key=f"elt{i}.{op.kind}"
                )
                rec.extra.update({"script_index": i, "version": version, "lo": op.lo, "hi": op.hi})
            else:
                call(op, None)
            with run.paused():
                versions.append(t.latest_version() if t.exists() else None)
                if record and tracer.enabled:
                    self._note_written(path)
        if record:
            script.versions = versions  # version after each op, for the check

    def _note_written(self, path: str) -> None:
        data = os.path.join(path, "data")
        for d, _, files in os.walk(data):
            for f in files:
                p = os.path.join(d, f)
                if p not in self.seen_files:
                    self.seen_files[p] = os.path.getsize(p)

    def check(self, run: Run) -> None:
        from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

        by_pass: dict[int, list[OpRecord]] = {}
        for rec in mine(run, self.kind):
            by_pass.setdefault(rec.pass_idx, []).append(rec)
        for p, script in enumerate(self.scripts):
            recs = by_pass.get(p, [])
            con = duckdb.connect()
            try:
                self._check_pass(run, con, script, recs, SnapshotTable(run.spark, self.tables[p]))
            finally:
                con.close()

    def _check_pass(self, run, con, script, recs, table) -> None:
        """Replay the script on a DuckDB model of the table, and hold
        every load count, time-travel read, scan and the final table to
        it."""
        landing = os.path.join(run.root, "elt", f"landing-p{recs[0].pass_idx}", "lineitem")

        def moved(p: str) -> str:  # where the load op found the batch
            return os.path.join(landing, os.path.basename(p))

        con.execute(f"CREATE TABLE model AS SELECT * FROM '{moved(script.batches[0])}' LIMIT 0")
        counts: dict[int, int] = {}
        keys = ", ".join(generate.ELT_KEYS)
        for op, rec, version in zip(script.ops, recs, script.versions):
            if op.kind.startswith("load"):
                con.execute(f"INSERT INTO model SELECT * FROM '{moved(op.batch)}'")
                want = pq.ParquetFile(moved(op.batch)).metadata.num_rows
                if rec.ok and rec.extra.get("count") != want:
                    rec.fail(f"loaded {rec.extra.get('count')} rows, landed {want}")
            elif op.kind == "merge":
                con.execute(
                    f"DELETE FROM model WHERE ({keys}) IN (SELECT ({keys}) FROM '{op.batch}')"
                )
                con.execute(f"INSERT INTO model SELECT * FROM '{op.batch}'")
            elif op.kind == "delete_where":
                con.execute(f"DELETE FROM model WHERE l_orderkey BETWEEN {op.lo} AND {op.hi}")
            elif op.kind == "scan" and rec.ok:
                want = con.execute(
                    f"SELECT count(*) FROM model WHERE l_orderkey BETWEEN {op.lo} AND {op.hi}"
                ).fetchone()[0]
                if rec.extra["count"] != want:
                    rec.fail(f"scan returned {rec.extra['count']} rows, model has {want}")
            if op.kind in self.WRITES and version is not None:
                counts[version] = con.execute("SELECT count(*) FROM model").fetchone()[0]
        for op, rec in zip(script.ops, recs):
            if op.kind == "read_version" and rec.ok:
                want = counts.get(rec.extra["version"])
                if rec.extra["count"] != want:
                    rec.fail(
                        f"version {rec.extra['version']} read {rec.extra['count']} rows, recorded {want}"
                    )
        with run.tracer.span("check"):
            got = table.read().toArrow()
        why = arrow_diff(con, got, "SELECT * FROM model")
        if why and recs:
            recs[-1].fail(f"final table differs from model: {why}")

    def committed_rows(self, run: Run) -> int:
        return sum(r.rows for r in mine(run, self.kind) if r.ok)

    def storage(self, run: Run) -> tuple[int, int]:
        return dir_bytes(*self.tables), sum(s.user_bytes for s in self.scripts)

    def layer_extras(self, run: Run) -> dict:
        from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

        tabs = [SnapshotTable(run.spark, p) for p in self.tables]
        read, live = (sum(x) for x in zip(*self.live)) if self.live else (0, 0)
        commits = sum(
            sum(1 for a, b in zip([None, *s.versions], s.versions) if b is not None and b != a)
            for s in self.scripts
        )
        return {
            "commits": commits,
            "scan_file_ratio": read / live if live else 0.0,
            "bytes_written": sum(self.seen_files.values()),
            "user_bytes": sum(s.user_bytes for s in self.scripts),
            "live_files": sum(len(t.files()) for t in tabs),
            "log_entries": sum(len(t.versions()) for t in tabs),
            "tables": self.tables,
        }


# ---------------------------------------------------------------------------
# elt_stream, part 2: the stream rounds
# ---------------------------------------------------------------------------

STREAM_JOBS = (
    ("streaming.jobs", "stream_upsert_user_totals"),
    ("streaming.jobs", "stream_dedup"),
    ("streaming.jobs", "stream_cdc_aggregate"),
    ("streaming.stateful", "stream_rich_sessions"),
)


class StreamWorkload:
    """Slices of the events table land in rounds, one per pass; each
    round runs every AvailableNow job once, in a seeded order. All
    rounds share one set of sinks and checkpoints, fresh for the run,
    so each round processes only the newly landed slice. The first round is the untimed warm-up:
    the timed rounds then take every job's later-batch path (MERGE into
    the existing totals, state restore), as a running pipeline does."""

    name = "stream_microbatch"
    kind = "stream"

    ROWS = 2_000  # events landed per timed round
    WARM_ROWS = 1_000  # events of the warm-up round

    def __init__(self, sf: str):
        self.sf_dir = os.path.join(TESTDATA, sf)
        self.plan: generate.StreamRounds | None = None
        self.progress: list[tuple[str, list[dict]]] = []  # per job run
        self.tables: list[str] = []

    def prepare(self, run: Run) -> None:
        events = os.path.join(self.sf_dir, "events.parquet")
        sizes = [self.WARM_ROWS] + [self.ROWS] * run.passes
        self.plan = generate.stream_slices(events, run.dir("stream", "staged"), sizes)
        self.paths = {
            k: run.dir("stream", k)
            for k in ("landing", "totals", "dedup", "cdc_src", "cdc_view", "sessions", "ckpt")
        }
        self.tables = [self.paths[k] for k in ("totals", "dedup", "cdc_src", "cdc_view", "sessions")]

    def inputs(self) -> dict:
        p = self.plan
        return {
            "sf_dir": self.sf_dir,
            "ops_per_pass": len(STREAM_JOBS),
            "warm_rows": p.rows[0],
            "rows": p.rows[1],  # per timed round, i.e. per pass
            "bytes": p.user_bytes,
        }

    def warm(self, run: Run) -> None:
        with run.tracer.span("warmup"):
            self._round(run, 0, None)

    def run_pass(self, run: Run, pass_idx: int) -> None:
        self._round(run, 1 + pass_idx, pass_idx)

    def _round(self, run: Run, r: int, pass_idx: int | None) -> None:
        """Land slice ``r``, then run every job once in a seeded order;
        ``pass_idx`` None is the untimed warm-up round."""
        from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable
        from lakehouse_homeserver_spark.streaming import jobs, stateful

        spark, tracer, d = run.spark, run.tracer, self.paths
        schema = jobs.events_schema()
        ck = lambda n: os.path.join(d["ckpt"], n)
        starters = {
            "stream_upsert_user_totals": lambda: jobs.stream_upsert_user_totals(
                spark, d["landing"], d["totals"], ck("totals")
            ),
            "stream_dedup": lambda: jobs.stream_dedup(
                spark, d["landing"], d["dedup"], ck("dedup"), schema
            ),
            "stream_cdc_aggregate": lambda: jobs.stream_cdc_aggregate(
                spark, d["cdc_src"], d["cdc_view"], ["event_type"], "value", ck("cdc")
            ),
            "stream_rich_sessions": lambda: stateful.stream_rich_sessions(
                spark, d["landing"], d["sessions"], ck("sessions"), schema
            ),
        }

        def call(layer: str, job: str, rec: OpRecord | None):
            with tracer.span(f"{layer}.{job}") as span:
                q = starters[job]()
                span.stream_run_ids.append(str(q.runId))
                jobs.await_or_raise(q, timeout_s=Run.OP_TIMEOUT_S)
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                progress = [dict(p) for p in q.recentProgress]
            if rec is not None:
                rec.rows = sum(p.get("numInputRows", 0) for p in progress)
                self.progress.append((layer, progress))

        with run.paused():
            slice_path = self.plan.slices[r]
            landed = os.path.join(d["landing"], os.path.basename(slice_path))
            os.rename(slice_path, landed)
            with tracer.span("bench.cdc_append"):
                SnapshotTable(spark, d["cdc_src"]).append(spark.read.parquet(landed))
        layers = {j: layer for layer, j in STREAM_JOBS}
        for job in generate.shuffled(list(layers), run.seed, 1000 + r):
            if pass_idx is None:
                call(layers[job], job, None)
            else:
                rec = run.op(job, self.kind, pass_idx, lambda rc, job=job: call(layers[job], job, rc))
                rec.extra["round"] = r

    def check(self, run: Run) -> None:
        con = duckdb.connect()
        try:
            self._check_pass(run, con, self.plan, mine(run, self.kind))
        finally:
            con.close()

    def _check_pass(self, run, con, plan, recs) -> None:
        from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable
        from lakehouse_homeserver_spark.streaming.stateful import GAP_US

        d = self.paths
        files = ", ".join(f"'{os.path.join(d['landing'], os.path.basename(s))}'" for s in plan.slices)
        con.execute(f"CREATE VIEW landed AS SELECT * FROM read_parquet([{files}])")
        last = {}
        for rec in recs:
            last[rec.name] = rec  # a sink is judged on its last op
        spark = run.spark
        with run.tracer.span("check"):
            got = {
                "stream_upsert_user_totals": SnapshotTable(spark, d["totals"]).read().toArrow(),
                "stream_dedup": spark.read.parquet(d["dedup"]).toArrow(),
                "stream_cdc_aggregate": SnapshotTable(spark, d["cdc_view"]).read().toArrow(),
                "stream_rich_sessions": spark.read.parquet(d["sessions"]).toArrow(),
            }
        want = {
            "stream_upsert_user_totals": """
                SELECT user_id, count(*) AS n_events,
                       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
                FROM landed GROUP BY user_id""",
            "stream_dedup": "SELECT * FROM landed",
            "stream_cdc_aggregate": """
                SELECT event_type, count(*) AS cnt,
                       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total
                FROM landed GROUP BY event_type""",
        }
        for job, sql in want.items():
            why = arrow_diff(con, got[job], sql)
            if why and job in last:
                last[job].fail(f"sink differs from DuckDB: {why}")
        # Sessions: every emitted session is a true session, and every
        # session the final watermark has closed was emitted.
        sessions = f"""
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
                     CAST(floor(coalesce(value, 0) * 100.0 + 0.5) AS BIGINT) AS cents
              FROM landed),
            b AS (
              SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > {GAP_US}
                             THEN 1 ELSE 0 END AS brk
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            s AS (
              SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM b)
            SELECT user_id, min(us) AS session_start_us, max(us) + {GAP_US} AS session_end_us,
                   count(*) AS n_events,
                   array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types,
                   CAST(sum(cents) AS BIGINT) AS value_cents
            FROM s GROUP BY user_id, sid"""
        con.execute(f"CREATE TABLE sessions AS {sessions}")
        con.register("emitted", got["stream_rich_sessions"])
        horizon = con.execute(
            f"SELECT max(epoch_us(ts)) - 3600000000 - {GAP_US} FROM landed"
        ).fetchone()[0]
        wrong = con.execute(
            "SELECT count(*) FROM (SELECT * FROM emitted EXCEPT ALL SELECT * FROM sessions)"
        ).fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM sessions WHERE session_end_us < {horizon} "
            "EXCEPT SELECT * FROM emitted)"
        ).fetchone()[0]
        if (wrong or missing) and "stream_rich_sessions" in last:
            last["stream_rich_sessions"].fail(
                f"{wrong} emitted sessions wrong, {missing} closed sessions missing"
            )

    def committed_rows(self, run: Run) -> int:
        return sum(self.plan.rows[1:])

    def storage(self, run: Run) -> tuple[int, int]:
        return dir_bytes(*self.tables), self.plan.user_bytes

    def layer_extras(self, run: Run) -> dict:
        from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

        tabs = [SnapshotTable(run.spark, p) for p in self.tables]
        tabs = [t for t in tabs if os.path.isdir(os.path.join(t.path, "_log"))]
        data = [os.path.join(t.path, "data") for t in tabs]
        return {
            "commits": sum(len(t.versions()) for t in tabs),
            "bytes_written": dir_bytes(*data),
            "user_bytes": self.plan.user_bytes,
            "live_files": sum(len(t.files()) for t in tabs),
            "log_entries": sum(len(t.versions()) for t in tabs),
            "tables": [t.path for t in tabs],
        }


# ---------------------------------------------------------------------------
# elt_stream
# ---------------------------------------------------------------------------


class EltStreamWorkload:
    """The write path in one session: the ELT load loop, then the stream
    rounds. Each part keeps its own ops (kind ``elt`` or ``stream``),
    tables and checks; the end-to-end metrics cover both."""

    name = "elt_stream"
    needs_views = False  # neither part reads the registered views

    def __init__(self, sf: str):
        self.elt = EltWorkload(sf)
        self.stream = StreamWorkload(sf)
        self.parts = (self.elt, self.stream)
        self.sf_dir = self.elt.sf_dir

    @property
    def progress(self) -> list:
        return self.stream.progress

    def prepare(self, run: Run) -> None:
        for w in self.parts:
            w.prepare(run)

    def inputs(self) -> dict:
        parts = {w.name: w.inputs() for w in self.parts}
        return {
            **parts,
            "ops_per_pass": sum(p["ops_per_pass"] for p in parts.values()),
            "bytes": sum(p["bytes"] for p in parts.values()),
            "rows": sum(p["rows"] for p in parts.values()),
        }

    def warm(self, run: Run) -> None:
        for w in self.parts:
            w.warm(run)

    def run_pass(self, run: Run, pass_idx: int) -> None:
        for w in self.parts:
            w.run_pass(run, pass_idx)

    def check(self, run: Run) -> None:
        for w in self.parts:
            w.check(run)

    def committed_rows(self, run: Run) -> int:
        return sum(w.committed_rows(run) for w in self.parts)

    def storage(self, run: Run) -> tuple[int, int]:
        kept, user = zip(*(w.storage(run) for w in self.parts))
        return sum(kept), sum(user)

    def layer_extras(self, run: Run) -> dict:
        elt, stream = (w.layer_extras(run) for w in self.parts)
        out = {
            k: elt[k] + stream[k]
            for k in ("commits", "bytes_written", "user_bytes", "live_files", "log_entries", "tables")
        }
        out["scan_file_ratio"] = elt["scan_file_ratio"]
        return out


def make(name: str, fixture: str | None = None):
    """The workload ``name``; ``fixture`` (e.g. "sf0.001") replaces the
    scale factor of its inputs, for the self-test."""
    if name == "queries":
        return QueryWorkload(
            name,
            {"sqlsurface": 4, "dedup": 10, "similarity": 10, "text": 10, "multimodal": 10},
            fixture or "sf0.01",
        )
    if name == "elt_stream":
        return EltStreamWorkload(fixture or "sf0.1")
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("queries", "elt_stream")
