"""The ``read`` workload: selective lookups and aggregate scans over a
lineitem-shaped olive table clustered on its key.

Lookups (key ranges with pushdown, bloom point lookups on
``l_partkey``) mostly pay the datasource's fixed load/plan cost and its
file and page pruning; scans (full and projected aggregates) pay format
decode and the Arrow hand-off.  Nothing is written while measuring."""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
import probes
from common import chunk_files, close, cpu_count, dir_bytes, median, tail

N_ROWS = 100_000
CHUNK_ROWS = 4_096
PAGE_ROWS = 1_024
RANGE_KEYS = 1_000  # about one row per key unit
# One round: two lookups (range, point) and two scans (full,
# projected).  Rounds always complete, so every run sees the same mix.
ROUND = ("range", "full", "point", "proj")


class ReadWorkload:
    def __init__(self, spark, ops, tracer, work: str, seed: int) -> None:
        self.spark, self.ops, self.tracer = spark, ops, tracer
        self.work, self.seed = work, seed
        self.rng = np.random.default_rng([seed, 3])
        self.results: list[tuple] = []  # (query, params, answer)

    # ----------------------------------------------------------- set-up

    def setup(self) -> None:
        self.table = gen.lineitem(self.seed, N_ROWS)
        self.path = f"{self.work}/lineitem"
        # contiguous key ranges in, one Spark partition each: the olive
        # files come out clustered on l_orderkey
        staged = f"{self.work}/staged"
        os.makedirs(staged)
        step = -(-N_ROWS // cpu_count())
        for i in range(0, N_ROWS, step):
            pq.write_table(self.table.slice(i, step), f"{staged}/{i:09d}.parquet")
        (
            self.spark.read.parquet(staged)
            .write.format("olive")
            .option("sortBy", "l_orderkey")
            .option("bloomColumns", "l_partkey")
            .option("chunkRows", CHUNK_ROWS)
            .option("pageRows", PAGE_ROWS)
            .mode("overwrite")
            .save(self.path)
        )
        shutil.rmtree(staged)

    def warm_up(self) -> None:
        for q in ("range", "point", "full", "proj"):
            self._op(q, record=False)

    # ---------------------------------------------------------- measure

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        while True:
            for q in ROUND:
                self._op(q)
            if time.perf_counter() - t0 >= seconds:
                return

    def _params(self, q: str):
        r, t = self.rng, self.table
        if q == "range":
            lo = int(t["l_orderkey"][int(r.integers(0, N_ROWS))].as_py())
            return (lo, lo + RANGE_KEYS)
        if q == "point":
            return (int(t["l_partkey"][int(r.integers(0, N_ROWS))].as_py()),)
        if q == "proj":
            d = int(r.integers(gen.SHIPDATE_LO, gen.SHIPDATE_HI - 365))
            return (d, d + 365)
        return ()

    def _op(self, q: str, record: bool = True) -> None:
        from pyspark.sql import functions as F

        params = self._params(q)
        reader = self.spark.read.format("olive")
        if q == "range":
            lo, hi = params
            reader = reader.option("pushdown", "true")
            build = lambda df: df.filter(  # noqa: E731
                (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)
            ).agg(F.count("*"), F.sum("l_extendedprice"), F.sum("l_quantity"))
        elif q == "point":
            (pk,) = params
            reader = reader.option("pushdown", "true")
            build = lambda df: df.filter(F.col("l_partkey") == pk).agg(  # noqa: E731
                F.count("*"), F.sum("l_quantity"))
        elif q == "full":
            build = lambda df: df.groupBy("l_returnflag", "l_linestatus").agg(  # noqa: E731
                F.count("*"), F.sum("l_quantity"), F.sum("l_extendedprice"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            ).orderBy("l_returnflag", "l_linestatus")
        else:
            lo, hi = params
            reader = reader.option(
                "columns", "l_shipdate,l_discount,l_quantity,l_extendedprice")
            build = lambda df: df.filter(  # noqa: E731
                (F.col("l_shipdate") >= F.date_from_unix_date(F.lit(lo)))
                & (F.col("l_shipdate") < F.date_from_unix_date(F.lit(hi)))
                & F.col("l_discount").between(0.05, 0.07)
                & (F.col("l_quantity") < 24)
            ).agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")))
        kind = "lookup" if q in ("range", "point") else "scan"
        path, tr = self.path, self.tracer

        def run():
            with tr.span("datasource.load"):
                qdf = build(reader.load(path))
            with tr.span("datasource.plan"):
                qdf._jdf.queryExecution().executedPlan()
            with tr.span("datasource.exec"):
                return [tuple(row) for row in qdf.collect()]

        ans = self.ops.run(kind, run, record=record)
        if ans is not None:
            self.results.append((q, params, ans))

    # ----------------------------------------------------------- verify

    def verify(self) -> None:
        """Every answer against DuckDB over the generated Arrow table."""
        con = duckdb.connect()
        con.register("li", self.table)
        for q, params, ans in self.results:
            if q == "range":
                sql = ("SELECT count(*), sum(l_extendedprice), sum(l_quantity) "
                       "FROM li WHERE l_orderkey >= ? AND l_orderkey < ?")
            elif q == "point":
                sql = ("SELECT count(*), sum(l_quantity) FROM li "
                       "WHERE l_partkey = ?")
            elif q == "full":
                sql = ("SELECT l_returnflag, l_linestatus, count(*), "
                       "sum(l_quantity), sum(l_extendedprice), "
                       "sum(l_extendedprice * (1 - l_discount)) FROM li "
                       "GROUP BY ALL ORDER BY 1, 2")
            else:
                sql = ("SELECT sum(l_extendedprice * l_discount) FROM li "
                       "WHERE l_shipdate >= DATE '1970-01-01' + ?::INTEGER "
                       "AND l_shipdate < DATE '1970-01-01' + ?::INTEGER "
                       "AND l_discount BETWEEN 0.05::DOUBLE AND 0.07::DOUBLE "
                       "AND l_quantity < 24")
            want = con.execute(sql, list(params)).fetchall()
            self.ops.check([(_same(ans, want), f"{q}{params}: {ans} != {want}")])
        con.close()

    # ---------------------------------------------------------- metrics

    def end_to_end(self) -> dict:
        scans = self.ops.walls.get("scan", [])
        scan_wall = sum(scans)
        ub = gen.user_bytes(self.table)
        return {
            "storage_ratio": dir_bytes(self.path) / ub,
            "primary_p50_ms": median(self.ops.walls.get("lookup", [])) * 1e3,
            "secondary_p50_ms": median(scans) * 1e3,
            "rows_per_s": len(scans) * N_ROWS / scan_wall if scan_wall else 0.0,
            "mb_per_s": len(scans) * ub / 1e6 / scan_wall if scan_wall else 0.0,
        }

    def details(self) -> dict:
        lk = self.ops.walls.get("lookup", [])
        p, v = tail(lk)
        return {
            "rows": N_ROWS,
            "files": len(chunk_files(self.path)),
            "lookups": len(lk),
            "scans": len(self.ops.walls.get("scan", [])),
            "lookup_tail_pct": p,
            "lookup_tail_ms": None if v is None else v * 1e3,
            "lookup_max_ms": max(lk) * 1e3 if lk else None,
        }

    def per_layer(self) -> dict:
        files = chunk_files(self.path)
        preds = []
        for q, params, _ in self.results:
            if q == "range":
                preds.append([("l_orderkey", ">=", params[0]),
                              ("l_orderkey", "<", params[1])])
            elif q == "point":
                preds.append([("l_partkey", "=", params[0])])
        part_ms, files_ratio = probes.partitions(self.path, preds)
        slices = [self.table.slice(i, CHUNK_ROWS)
                  for i in range(0, N_ROWS, CHUNK_ROWS)]
        w_mbps, stored = probes.format_write(
            slices, page_rows=PAGE_ROWS, bloom_columns=("l_partkey",))
        return {
            "format.read_table_mb_per_s": probes.format_read(files),
            "format.select_pages_ratio": probes.select_pages_ratio(files, preds),
            "format.write_chunk_mb_per_s": w_mbps,
            "format.stored_bytes_per_user_byte": stored,
            "datasource.partitions_ms": part_ms,
            "datasource.files_selected_ratio": files_ratio,
        }


def _same(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not close(float(a), float(b)):
                    return False
            elif a != b:
                return False
    return True
