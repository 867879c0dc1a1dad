"""The lake_dml half of the lake_dml_copy workload: reads and commits
against one LakeTable, checked by a DuckDB twin.

The table is the generated ``orders`` with a hidden bucket partition on
the key. Each cycle contributes 10 reads and 5 DML commits, and ends with
``compact`` and ``expire_snapshots``:

- reads: 8 key-range ``scan(filters=...)`` aggregates and 2 full-table
  group-by aggregates, all straight from parquet (no Spark cache);
- commits: an append of re-keyed samples, a narrow range delete (the
  merge-on-read tier), a delete of the middle half of one data file of
  the newest append (the copy-on-write tier), an ``update`` of a key
  range and a ``merge`` whose source half-matches live keys.

The twin replays every op outside the timed span; each read is
compared with the twin's answer and the whole table is diffed against
it at the end."""

from __future__ import annotations

import json
import os
import random
import statistics
import time

import pyarrow.parquet as pq

from common import Op
from datagen import tables

BUCKETS = 4
# reads are over half of a timed cycle's ops (and the cheapest half), so
# the median op falls inside a block of same-kind ops, not on the
# boundary between kinds whose order changes from run to run
READS = ["range_read"] * 8 + ["full_read"] * 2
WARM_READS = ["range_read", "full_read"]  # the warm-up cycle's reads
WRITES = ["append", "delete_mor", "delete_cow", "update", "merge"]
MAINTENANCE = ["compact", "expire"]
DEC = "DECIMAL(20,2)"


def _tree_bytes(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class LakeRun:
    def __init__(self, ctx, spark, sf: float):
        import duckdb

        from pg_datalake_spark.tables.format import LakeTable, PartitionField

        self.ctx = ctx
        self.tr = ctx.tracer
        self.rng = random.Random(f"lake-{ctx.seed}")
        data = os.path.join(ctx.tmp, "data")
        os.makedirs(data, exist_ok=True)
        orders = tables(ctx.seed, sf, ["orders"])["orders"]
        path = os.path.join(data, "orders.parquet")
        pq.write_table(orders, path)
        self.base = orders.to_pandas()
        self.n0 = len(self.base)
        self.next_key = self.n0
        self.last_append = ""  # data dir of the newest append

        self.spark = spark
        src = spark.read.parquet(path)
        self.schema = src.schema
        self.root = os.path.join(ctx.tmp, "lake", "orders")
        self.table = LakeTable.create(
            spark, self.root, src.schema,
            partition_by=[PartitionField("o_orderkey", "bucket", BUCKETS)],
        )
        self.table.append(src)
        self.row_bytes = sum(_tree_bytes(os.path.join(self.root, "data")).values()) / self.n0

        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE twin AS SELECT * FROM read_parquet('{path}')")
        self.n_op = 0
        self.injected = False
        # traced-run accounting
        self.meta_bytes: list[int] = []
        self.new_bytes = self.changed_bytes = 0.0
        self.files_ratio: list[float] = []
        self.live_deletes: list[int] = []

    # -- helpers ----------------------------------------------------------
    def _live_rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM twin").fetchone()[0]

    def _range(self, width: int) -> tuple[int, int]:
        lo = self.rng.randrange(0, max(self.next_key - width, 1))
        return lo, lo + width

    def _sample(self, keys: list[int]):
        rows = self.base.iloc[[self.rng.randrange(self.n0) for _ in keys]].copy()
        rows["o_orderkey"] = keys
        rows["o_totalprice"] = [round(self.rng.uniform(1000, 500_000), 2) for _ in keys]
        return rows.reset_index(drop=True)

    def _snapshot(self) -> tuple[dict, int]:
        """The current snapshot from the table's metadata file, and the
        size of that file."""
        meta_dir = os.path.join(self.root, "metadata")
        with open(os.path.join(meta_dir, "current")) as f:
            path = os.path.join(meta_dir, f"v{int(f.read())}.json")
        with open(path) as f:
            meta = json.load(f)
        snap = next(s for s in meta["snapshots"] if s["snapshot_id"] == meta["current_snapshot_id"])
        return snap, os.path.getsize(path)

    # -- ops --------------------------------------------------------------
    def op(self, kind: str) -> Op:
        """Run one op under the clock; the twin replay and the checks
        happen outside it."""
        from pyspark.sql import functions as F

        tr, t, con = self.tr, self.table, self.con
        prep = getattr(self, f"_prep_{kind}", dict)()
        traced_commit = tr.enabled and kind not in ("range_read", "full_read")
        before = _tree_bytes(self.root) if traced_commit else None
        if tr.enabled and kind == "range_read":
            st = t.scan_stats(prep["filters"])
            self.files_ratio.append(st["files_scanned"] / max(st["files_total"], 1))
        if tr.enabled and kind in ("range_read", "full_read"):
            self.live_deletes.append(len(self._snapshot()[0]["delete_files"]))
        rows_before = self._live_rows()
        data_dirs = set(os.listdir(os.path.join(self.root, "data")))

        op_id = f"op{self.n_op}"
        self.n_op += 1
        tr.begin_op(op_id, kind)
        t0 = time.perf_counter()
        if kind == "range_read":
            with tr.span("tables.scan_plan"):
                df = t.scan(filters=prep["filters"])
            with tr.span("tables.scan_exec"):
                got = df.agg(F.count(F.lit(1)), F.sum(F.col("o_totalprice").cast(DEC)),
                             F.max("o_orderdate")).first()
        elif kind == "full_read":
            with tr.span("tables.scan_plan"):
                df = t.scan()
            with tr.span("tables.scan_exec"):
                got = df.groupBy("o_orderstatus").agg(
                    F.count(F.lit(1)), F.sum(F.col("o_totalprice").cast(DEC))).collect()
        elif kind == "append":
            with tr.span("tables.append"):
                t.append(self.spark.createDataFrame(prep["rows"], self.schema))
        elif kind in ("delete_mor", "delete_cow"):
            with tr.span("tables.delete"):
                t.delete(prep["pred"])
        elif kind == "update":
            with tr.span("tables.update"):
                t.update({"o_totalprice": "o_totalprice + 1.0"}, prep["pred"])
        elif kind == "merge":
            with tr.span("tables.merge"):
                t.merge(
                    self.spark.createDataFrame(prep["rows"], self.schema), "o_orderkey",
                    when_matched_update={"o_totalprice": "src.o_totalprice",
                                         "o_orderstatus": "src.o_orderstatus"},
                )
        elif kind == "compact":
            with tr.span("tables.compact"):
                t.compact()
        elif kind == "expire":
            with tr.span("tables.expire"):
                t.expire_snapshots(keep_last=1)
        dt = time.perf_counter() - t0
        tr.end_op()

        ok = True
        if kind in ("range_read", "full_read"):
            want = con.execute(prep["sql"]).fetchall()
            have = [tuple(got)] if kind == "range_read" else sorted(tuple(r) for r in got)
            if self.ctx.inject_fault and not self.injected:
                self.injected = True
                want = [tuple(x + 1 if isinstance(x, int) else x for x in want[0])] + want[1:]
            ok = have == [tuple(r) for r in want]
            if not ok:
                self.ctx.fail(f"lake_dml {op_id} {kind}: {have} != twin {want}")
            return Op(kind, dt, ok, "read")
        for stmt in prep.get("twin", []):
            con.execute(stmt)
        if kind == "append":
            (self.last_append,) = set(os.listdir(os.path.join(self.root, "data"))) - data_dirs
        if traced_commit:
            after = _tree_bytes(self.root)
            self.meta_bytes.append(self._snapshot()[1])
            if kind not in MAINTENANCE:
                changed = prep.get("changed", abs(self._live_rows() - rows_before))
                self.new_bytes += sum(s for p, s in after.items() if p not in before)
                self.changed_bytes += changed * self.row_bytes
        return Op(kind, dt, ok, "write")

    def _prep_range_read(self):
        lo, hi = self._range(max(self.n0 // 20, 1))
        return {
            "filters": [("o_orderkey", ">=", lo), ("o_orderkey", "<", hi)],
            "sql": f"SELECT count(*), sum(CAST(o_totalprice AS {DEC})), max(o_orderdate) "
                   f"FROM twin WHERE o_orderkey >= {lo} AND o_orderkey < {hi}",
        }

    def _prep_full_read(self):
        return {"sql": f"SELECT o_orderstatus, count(*), sum(CAST(o_totalprice AS {DEC})) "
                       "FROM twin GROUP BY 1 ORDER BY 1"}

    def _register(self, rows) -> None:
        self.con.register("src_rows", rows)
        self.con.execute("CREATE OR REPLACE TEMP TABLE src AS SELECT * FROM src_rows")
        self.con.unregister("src_rows")

    def _prep_append(self):
        m = max(self.n0 // 100, 10)
        lo = self.next_key
        self.next_key += m
        rows = self._sample(list(range(lo, lo + m)))
        self._register(rows)
        return {"rows": rows, "changed": m, "twin": ["INSERT INTO twin SELECT * FROM src"]}

    def _pred(self, lo: int, hi: int) -> str:
        return f"o_orderkey >= {lo} AND o_orderkey < {hi}"

    def _prep_delete_mor(self):
        pred = self._pred(*self._range(max(self.n0 // 1000, 2)))
        return {"pred": pred, "twin": [f"DELETE FROM twin WHERE {pred}"]}

    def _prep_delete_cow(self):
        # the middle half of the key range of the biggest file the
        # newest append wrote: >20% of that file's rows, so it is
        # rewritten, and no file is matched whole (that would be a
        # metadata-only drop)
        batch = [f for f in self._snapshot()[0]["data_files"]
                 if f"/{self.last_append}/" in f["path"]]
        lo, hi, _nulls = max(batch, key=lambda f: f["rows"])["stats"]["o_orderkey"]
        q = (hi - lo) // 4
        pred = self._pred(lo + q, hi - q)
        return {"pred": pred, "twin": [f"DELETE FROM twin WHERE {pred}"]}

    def _prep_update(self):
        pred = self._pred(*self._range(max(self.n0 // 200, 2)))
        n = self.con.execute(f"SELECT count(*) FROM twin WHERE {pred}").fetchone()[0]
        return {"pred": pred, "changed": n,
                "twin": [f"UPDATE twin SET o_totalprice = o_totalprice + 1.0 WHERE {pred}"]}

    def _prep_merge(self):
        k = max(self.n0 // 100, 10)
        lo = self.rng.randrange(0, self.next_key)
        live = [r[0] for r in self.con.execute(
            f"SELECT o_orderkey FROM twin WHERE o_orderkey >= {lo} "
            f"ORDER BY o_orderkey LIMIT {k // 2}").fetchall()]
        fresh = list(range(self.next_key, self.next_key + k - len(live)))
        self.next_key += len(fresh)
        rows = self._sample(live + fresh)
        self._register(rows)
        return {"rows": rows, "changed": k, "twin": [
            "UPDATE twin SET o_totalprice = s.o_totalprice, o_orderstatus = s.o_orderstatus "
            "FROM src s WHERE twin.o_orderkey = s.o_orderkey",
            f"INSERT INTO twin SELECT * FROM src WHERE o_orderkey >= {fresh[0]}",
        ]}

    def kinds(self, reads: list[str] = READS) -> list[str]:
        """One cycle's reads and DML commits, seed-shuffled."""
        kinds = reads + WRITES
        self.rng.shuffle(kinds)
        return kinds

    def final_diff(self) -> bool:
        from check_exact import compare_exact  # scripts/ is on sys.path

        have = self.table.scan().toPandas()
        want = self.con.execute("SELECT * FROM twin").df()
        problems = compare_exact(have, want)
        if problems:
            self.ctx.fail(f"lake_dml final table differs from twin: {problems[0]}")
        return not problems

    def space_amp(self) -> float:
        """Bytes under the table root / (live rows x initial bytes per row)."""
        return sum(_tree_bytes(self.root).values()) / (self._live_rows() * self.row_bytes)


def per_layer(tr, lake: LakeRun, ops: list[Op]) -> dict[str, float]:
    jobs, _tasks = tr.jobs_tasks(set(WRITES + MAINTENANCE))
    out = {
        "tables.files_scanned_ratio": statistics.mean(lake.files_ratio),
        "tables.live_delete_files": statistics.mean(lake.live_deletes),
        "tables.metadata_bytes_per_commit": statistics.mean(lake.meta_bytes),
        "tables.bytes_written_per_changed_byte": lake.new_bytes / lake.changed_bytes,
        "tables.spark_jobs_per_commit": jobs,
        "lake.write_p50_s": statistics.median(o.seconds for o in ops if o.role == "write"),
        "lake.space_amp": lake.space_amp(),
    }
    for verb in ("append", "delete", "update", "merge", "compact", "expire",
                 "scan_plan", "scan_exec"):
        out[f"tables.{verb}_s"] = tr.mean_s(f"tables.{verb}")
    return out
