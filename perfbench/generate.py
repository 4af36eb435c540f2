"""Seeded input generator. Everything a workload feeds the engine is
made here: from ``--seed`` the op orders, landing batches, merge
sources, delete and scan ranges and time-travel targets; without it
the stream slices (fixed sizes, in time order) and the inputs of the
direct kernel calls. Nothing in this module imports the engine; the
engine only ever receives the files and parameters produced here.

The same seed gives the same inputs. The op *composition* of every
workload is fixed and only its order and parameters depend on the
seed, so runs with different seeds do the same amount of work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def shuffled(names: list[str], seed: int, pass_idx: int) -> list[str]:
    order = rng_for(seed, 1, pass_idx).permutation(len(names))
    return [names[i] for i in order]


def uneven_splits(n: int, parts: int, rng: np.random.Generator) -> list[int]:
    """Cut points of ``n`` rows into ``parts`` contiguous slices whose
    sizes vary by up to 2x."""
    w = rng.uniform(0.7, 1.4, parts)
    cuts = np.round(np.cumsum(w / w.sum()) * n).astype(int)
    cuts[-1] = n
    return [0, *cuts.tolist()]


def file_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)


# -- elt_stream: the load loop -------------------------------------------

ELT_KEYS = ["l_orderkey", "l_linenumber"]


@dataclass
class EltOp:
    kind: str  # load_full | load_incremental | merge | delete_where |
    #            compact_files | expire_snapshots | read_version | scan
    batch: str | None = None  # landing file (loads) or merge source
    lo: int | None = None
    hi: int | None = None
    keep_last: int | None = None
    pick: float | None = None  # which retained version a read targets


@dataclass
class EltScript:
    ops: list[EltOp]
    batches: list[str]  # staged landing files, in landing order
    user_bytes: int  # bytes of every file the engine is handed
    user_rows: int
    extra_files: list[str] = field(default_factory=list)
    versions: list = field(default_factory=list)  # filled in by the run


# The ops that follow each load. The schedule is fixed so that every
# seed does the same work on tables of the same size: the seed shuffles
# the ops within each group and picks their parameters.
# A delete never shares a group with a merge, whose full rewrite would
# otherwise decide, by the seeded order, how much the delete rewrites.
# Snapshot expiry always comes last, so the storage it leaves behind
# does not depend on the order either.
ELT_SCHEDULE = (
    ("read_version",),
    ("merge", "scan"),
    ("delete_where",),
    ("compact_files", "read_version"),
    ("delete_where", "scan"),
    ("merge",),
)
WARM_SCHEDULE = (("merge",), ("delete_where",))


def elt_script(
    lineitem: str,
    out_dir: str,
    seed: int,
    pass_idx: int,
    schedule: tuple = ELT_SCHEDULE,
    merge_rows: int = 2000,
    insert_rows: int = 500,
    limit_rows: int | None = None,
) -> EltScript:
    """Split lineitem (in l_orderkey order, so key-range deletes and
    scans can prune files) into one landing batch per schedule group,
    of uneven seeded sizes, each followed by its group's ops."""
    rng = rng_for(seed, 2, pass_idx)
    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(lineitem)
    table = table.sort_by([(k, "ascending") for k in ELT_KEYS])
    if limit_rows is not None:
        table = table.slice(0, limit_rows)
    n_batches = len(schedule)
    cuts = uneven_splits(table.num_rows, n_batches, rng)
    batches = []
    for i in range(n_batches):
        p = os.path.join(out_dir, f"batch-{i:03d}.parquet")
        pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), p)
        batches.append(p)

    ops: list[EltOp] = []
    extra_files: list[str] = []
    for i, group in enumerate(schedule):
        ops.append(
            EltOp("load_full" if i == 0 else "load_incremental", batch=batches[i])
        )
        loaded_hi = cuts[i + 1]  # rows landed so far (a prefix: sorted)
        lo_key = int(table["l_orderkey"][cuts[i]].as_py())
        hi_key = int(table["l_orderkey"][loaded_hi - 1].as_py())
        for j in rng.permutation(len(group)):
            kind = group[j]
            op = EltOp(kind)
            if kind == "merge":
                op.batch = os.path.join(out_dir, f"merge-{len(ops):03d}.parquet")
                _write_merge_source(table, loaded_hi, op.batch, rng, merge_rows, insert_rows)
                extra_files.append(op.batch)
            elif kind == "delete_where":
                # Retract part of the batch just landed: a key range
                # inside it, 10% of its width.
                width = max(1, (hi_key - lo_key) // 10)
                op.lo = int(rng.integers(lo_key, max(lo_key + 1, hi_key - width)))
                op.hi = op.lo + width
            elif kind == "scan":
                width = max(1, hi_key // 20)
                op.lo = int(rng.integers(1, max(2, hi_key - width)))
                op.hi = op.lo + width
            elif kind == "read_version":
                op.pick = float(rng.random())
            ops.append(op)
    ops.append(EltOp("expire_snapshots", keep_last=2))
    return EltScript(
        ops=ops,
        batches=batches,
        user_bytes=file_bytes(batches + extra_files),
        user_rows=table.num_rows
        + sum(pq.ParquetFile(p).metadata.num_rows for p in extra_files),
        extra_files=extra_files,
    )


def _write_merge_source(
    table: pa.Table,
    loaded_hi: int,
    path: str,
    rng: np.random.Generator,
    n_update: int,
    n_insert: int,
) -> None:
    """Upsert source: ``n_update`` landed rows with a changed quantity
    and price, plus ``n_insert`` rows under new line numbers."""
    # Small fixtures (the self-test's sf0.001) cap the source size.
    n_update = min(n_update, loaded_hi // 4)
    n_insert = min(n_insert, loaded_hi // 16)
    idx = np.sort(rng.choice(loaded_hi, size=n_update + n_insert, replace=False))
    src = table.take(pa.array(idx)).to_pandas()
    upd = src.iloc[:n_update].copy()
    upd["l_quantity"] = upd["l_quantity"] + 1.0
    upd["l_extendedprice"] = (upd["l_extendedprice"] * 1.01).round(2)
    ins = src.iloc[n_update:].copy()
    ins["l_linenumber"] = ins["l_linenumber"] + 100
    out = pa.Table.from_pandas(
        pd.concat([upd, ins]), schema=table.schema, preserve_index=False
    )
    pq.write_table(out, path)


# -- elt_stream: the stream rounds ---------------------------------------


@dataclass
class StreamRounds:
    slices: list[str]  # one events file per round, in time order
    rows: list[int]
    user_bytes: int


def stream_slices(events: str, out_dir: str, sizes: list[int]) -> StreamRounds:
    """Consecutive slices of the events table, in (ts, event_id) order,
    of the given sizes, so each round's watermark only moves forward.
    A fixture smaller than the sizes asked for (the self-test's sf0.001)
    is cut in the same proportions."""
    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(events).sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )
    scale = min(1.0, table.num_rows / sum(sizes))
    paths, rows, start = [], [], 0
    for i, n in enumerate(sizes):
        n = max(1, int(n * scale))
        p = os.path.join(out_dir, f"events-{i:03d}.parquet")
        pq.write_table(table.slice(start, n), p)
        paths.append(p)
        rows.append(n)
        start += n
    return StreamRounds(paths, rows, file_bytes(paths))


# -- direct kernel inputs (fixed, independent of --seed) ----------------

KERNEL_SEED = 20240601


def jpeg_inputs(n: int = 24) -> list[tuple]:
    """4:2:0 YCbCr planes of a few sizes; smooth gradients plus noise,
    so the Huffman stage sees realistic run lengths."""
    rng = np.random.default_rng(KERNEL_SEED)
    out = []
    for i in range(n):
        h16, w16 = 2 + i % 3, 2 + (i // 3) % 3
        yy, xx = np.mgrid[0 : h16 * 16, 0 : w16 * 16]
        y = (yy * 3 + xx * 2 + rng.integers(0, 24, yy.shape)) % 256
        c = (h16 * 8, w16 * 8)
        out.append(
            (
                y.astype(np.uint8),
                rng.integers(96, 160, c).astype(np.uint8),
                rng.integers(96, 160, c).astype(np.uint8),
            )
        )
    return out


def minhash_inputs(n_docs: int = 2000, max_shingles: int = 120) -> list[np.ndarray]:
    rng = np.random.default_rng(KERNEL_SEED + 1)
    lens = rng.integers(0, max_shingles, n_docs)
    return [rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64) for n in lens]
