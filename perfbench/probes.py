"""In-process per-layer probes, run only in traced runs, outside the
timed ops: the format layer's reader, page selection and writer, and the
datasource's planning call, each timed on its own."""

from __future__ import annotations

import time

import pyarrow as pa

from common import median
from gen import user_bytes


def format_read(files: list[str]) -> float:
    """``ChunkReader.read_table`` over whole files: decoded MB per s."""
    from olive_spark.format import ChunkReader

    nbytes, t = 0, 0.0
    for f in files:
        t0 = time.perf_counter()
        tbl = ChunkReader.from_path(f).read_table()
        t += time.perf_counter() - t0
        nbytes += tbl.nbytes
    return nbytes / 1e6 / t if t else 0.0


def select_pages_ratio(files: list[str], pred_sets: list[list[tuple]]) -> float:
    """Pages ``select_pages`` keeps over pages in the files, summed over
    every predicate set the workload pushed."""
    from olive_spark.format.header import read_header
    from olive_spark.format.reader import select_pages

    kept = total = 0
    for f in files:
        th = read_header(f)[0].tables[0]
        first = next(iter(th.fields[0].buffers.values()), None)
        npages = len(first.pages) if first is not None else 0
        for preds in pred_sets:
            sel = select_pages(th, preds)
            kept += npages if sel is None else len(sel)
            total += npages
    return kept / total if total else 0.0


def _to_filter(col: str, op: str, value):
    from pyspark.sql import datasource as D

    cls = {"=": D.EqualTo, "<": D.LessThan, "<=": D.LessThanOrEqual,
           ">": D.GreaterThan, ">=": D.GreaterThanOrEqual}[op]
    return cls((col,), value)


def partitions(path: str, pred_sets: list[list[tuple]]) -> tuple[float, float]:
    """(median ms of ``pushFilters`` + ``partitions()`` on an in-process
    ``OlivePushdownReader``, files selected over files listed)."""
    from olive_spark.datasource.olive_datasource import (
        OliveDataSource,
        OlivePushdownReader,
        _list_chunk_files,
    )

    opts = {"path": path, "pushdown": "true"}
    schema = OliveDataSource(opts).schema()
    nfiles = len(_list_chunk_files(path))
    times, selected = [], 0
    for preds in pred_sets:
        t0 = time.perf_counter()
        reader = OlivePushdownReader(dict(opts), schema)
        list(reader.pushFilters([_to_filter(*p) for p in preds]))
        parts = reader.partitions()
        times.append((time.perf_counter() - t0) * 1e3)
        selected += sum(
            len(p.files) for p in parts
            if not any(q[0] == "__none__" for q in p.predicates)
        )
    ratio = selected / (nfiles * len(pred_sets)) if pred_sets and nfiles else 0.0
    return median(times), ratio


def format_write(tables: list[pa.Table], **kwargs) -> tuple[float, float]:
    """``write_chunk`` on each table: (user MB per s, stored bytes per
    user byte)."""
    from olive_spark.format import write_chunk

    ub = stored = 0
    t = 0.0
    for tbl in tables:
        t0 = time.perf_counter()
        blob = write_chunk({"data": tbl}, **kwargs)
        t += time.perf_counter() - t0
        stored += len(blob)
        ub += user_bytes(tbl)
    return (ub / 1e6 / t if t else 0.0), (stored / ub if ub else 0.0)
