"""lake_dml_copy: transactional LakeTable changes mixed with COPY round trips.

One closed-loop client runs whole cycles. A cycle is the seed-shuffled
union of the lake_dml part (10 reads and 5 DML commits on one LakeTable,
see lake_dml.py) and the copy_io part (4 COPY export/import round trips,
see copy_io.py), followed by ``compact`` and ``expire_snapshots``.
One untimed, fully checked warm-up cycle (every op kind once) runs in
set-up; the timed loop runs cycles until ``--seconds`` of op time have
been spent. At the end the table is diffed against its DuckDB twin."""

from __future__ import annotations

import os
import random
import sys
import time

import copy_io
import lake_dml
from common import ROOT, Op, build_spark

DEFAULT_SF = 0.01
COPY_SCALE = 0.5  # the COPY sources are generated at half the table's scale


def _order(steps: list) -> list:
    # the copy-on-write delete targets the newest append's files, so an
    # append of this cycle must precede it (older batches are compacted
    # into files spanning every key)
    first_append = steps.index(("lake", "append"))
    cow = steps.index(("lake", "delete_cow"))
    if cow < first_append:
        steps[cow], steps[first_append] = steps[first_append], steps[cow]
    return steps


def cycle(rng: random.Random, lake: lake_dml.LakeRun, copy: copy_io.CopyRun,
          reads: list[str] = lake_dml.READS) -> list[Op]:
    steps = [("lake", k) for k in lake.kinds(reads)] + [("copy", p) for p in copy_io.PAIRS]
    rng.shuffle(steps)
    ops = [lake.op(arg) if part == "lake" else copy.round_trip(*arg)
           for part, arg in _order(steps)]
    return ops + [lake.op(k) for k in lake_dml.MAINTENANCE]


def run(ctx) -> dict:
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    sf = ctx.sf or DEFAULT_SF
    spark = build_spark(ctx)
    t0 = time.perf_counter()
    lake = lake_dml.LakeRun(ctx, spark, sf)
    copy = copy_io.CopyRun(ctx, spark, sf * COPY_SCALE)
    t1 = time.perf_counter()
    rng = random.Random(ctx.seed)
    with ctx.tracer.paused():  # untimed warm-up, checked like the rest
        warm = cycle(rng, lake, copy, lake_dml.WARM_READS)
    copy.stats.clear()
    print(f"# set-up: session {t0 - ctx.t_start:.1f}s, tables {t1 - t0:.1f}s, "
          f"warm-up cycle {time.perf_counter() - t1:.1f}s", file=sys.stderr)
    setup_s = time.perf_counter() - ctx.t_start

    ops: list[Op] = []
    timed = 0.0
    while timed < ctx.seconds:
        batch = cycle(rng, lake, copy)
        ops += batch
        timed += sum(o.seconds for o in batch)
        print(f"# cycle: {sum(o.seconds for o in batch):.2f}s", file=sys.stderr)
    final = Op("final_diff", 0.0, lake.final_diff(), "read")
    return {"ops": ops, "warm": warm + [final], "setup_s": setup_s, "timed_s": timed,
            "lake": lake, "copy": copy}


def per_layer(ctx, res: dict) -> dict[str, float]:
    tr = ctx.tracer
    out = {"session.build_s": tr.mean_s("session.build")}
    out.update(lake_dml.per_layer(tr, res["lake"], res["ops"]))
    out.update(copy_io.per_layer(tr, res["copy"], res["ops"]))
    return out
