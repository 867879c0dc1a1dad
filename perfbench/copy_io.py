"""The copy_io half of the lake_dml_copy workload: COPY round trips.

Each op takes one (table, format) pair of ``PAIRS`` (``lineitem`` or
``documents`` with one of parquet, csv.gz, json.gz, iceberg):
export with ``copy_to`` (``export_iceberg_snapshot`` for iceberg),
import again with ``copy_from`` (``read_iceberg_table``; CSV
and JSON schemas are inferred), checksum every column, compare with the
source's checksum and delete the output. Set-up also probes the zstd
extensions ``readers._EXT_FORMATS`` lists (``.csv.zst``, ``.json.zst``);
the traced run reports how many of those exports failed as
``sources.codec_failures``."""

from __future__ import annotations

import os
import shutil
import sys
import time

from common import Op
from datagen import generate

TABLES = ["lineitem", "documents"]
FORMATS = {"parquet": ".parquet", "csv.gz": ".csv.gz", "json.gz": ".json.gz",
           "iceberg": ""}
# one round trip per pair and cycle: the numeric table through the
# binary formats and gzipped CSV, the text table through gzipped JSON
PAIRS = [("lineitem", "parquet"), ("lineitem", "csv.gz"), ("lineitem", "iceberg"),
         ("documents", "json.gz")]
PROBES = [".csv.zst", ".json.zst"]


def checksum(df, schema) -> tuple:
    """Row count + per-column sum of 32-bit column hashes, after casting
    each column back to the source type (text formats come back as
    inferred types)."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1))]
    for f in schema.fields:
        h = F.xxhash64(F.col(f.name).cast(f.dataType)).bitwiseAND(F.lit(0xFFFFFFFF))
        aggs.append(F.sum(h))
    return tuple(df.agg(*aggs).first())


def _tree(path: str) -> tuple[int, int]:
    """(data files, bytes) under an export path, metadata excluded."""
    n = size = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")) and not d.endswith("metadata"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class CopyRun:
    def __init__(self, ctx, spark, sf: float):
        from pg_datalake_spark.catalog import load_tables

        self.ctx, self.spark, self.tr = ctx, spark, ctx.tracer
        data = os.path.join(ctx.tmp, "copy_src")
        self.out_dir = os.path.join(ctx.tmp, "copy")
        self.counts = generate(data, ctx.seed, sf, TABLES)
        self.src = load_tables(spark, data, TABLES)
        self.want = {t: checksum(df, df.schema) for t, df in self.src.items()}
        self.n_op = 0
        self.injected = False
        self.stats: dict[str, dict[str, list]] = {}
        self.codec_failures = self._probe()

    def _probe(self) -> int:
        from pg_datalake_spark.sources.writers import copy_to

        failures = 0
        for ext in PROBES:
            try:
                copy_to(self.src["documents"].limit(10), os.path.join(self.out_dir, f"probe{ext}"))
            except Exception as e:  # noqa: BLE001
                failures += 1
                print(f"# copy_to {ext}: {type(e).__name__}: {str(e).splitlines()[0][:160]}",
                      file=sys.stderr)
        shutil.rmtree(self.out_dir, ignore_errors=True)
        return failures

    def round_trip(self, table: str, fmt: str) -> Op:
        from pg_datalake_spark.sources.writers import copy_from, copy_to
        from pg_datalake_spark.tables.iceberg_external import (
            export_iceberg_snapshot, read_iceberg_table,
        )

        tr, df = self.tr, self.src[table]
        op_id = f"copy{self.n_op}"
        self.n_op += 1
        path = os.path.join(self.out_dir, f"{op_id}-{table}{FORMATS[fmt]}")
        tr.begin_op(op_id, "copy")
        t0 = time.perf_counter()
        with tr.span(f"sources.copy_to.{fmt}"):
            if fmt == "iceberg":
                export_iceberg_snapshot(df, path)
            else:
                copy_to(df, path)
        t1 = time.perf_counter()
        with tr.span(f"sources.copy_from.{fmt}"):
            back = read_iceberg_table(self.spark, path) if fmt == "iceberg" else copy_from(
                self.spark, path)
        with tr.span(f"sources.scan_exec.{fmt}"):
            got = checksum(back, df.schema)
        t2 = time.perf_counter()
        files, size = _tree(path)
        shutil.rmtree(path)
        t3 = time.perf_counter()
        tr.end_op()

        s = self.stats.setdefault(fmt, {"files": [], "bytes_per_row": []})
        s["files"].append(files)
        s["bytes_per_row"].append(size / self.counts[table])
        expect = self.want[table]
        if self.ctx.inject_fault and not self.injected:
            self.injected = True
            expect = (expect[0] + 1,) + expect[1:]
        ok = got == expect
        if not ok:
            self.ctx.fail(f"copy_io {table} via {fmt}: checksum {got} != source {expect}")
        return Op(f"{table}.{fmt}", t3 - t0, ok, "copy", read_seconds=t2 - t1,
                  export_seconds=t1 - t0, rows=self.counts[table])


def per_layer(tr, run: CopyRun, ops: list[Op]) -> dict[str, float]:
    ops = [o for o in ops if o.role == "copy"]
    rows = sum(o.rows for o in ops)
    out = {
        "sources.codec_failures": run.codec_failures,
        "copy.export_rows_per_s": rows / sum(o.export_seconds for o in ops),
        "copy.import_rows_per_s": rows / sum(o.read_seconds for o in ops),
    }
    for fmt, s in run.stats.items():
        for call in ("copy_to", "copy_from", "scan_exec"):
            out[f"sources.{call}_s.{fmt}"] = tr.mean_s(f"sources.{call}.{fmt}")
        out[f"sources.output_files.{fmt}"] = sum(s["files"]) / len(s["files"])
        out[f"sources.bytes_per_row.{fmt}"] = sum(s["bytes_per_row"]) / len(s["bytes_per_row"])
    return out
