"""The ``write_curate`` workload: an LLM-corpus pipeline over one olive
table.  Each round appends a seeded batch of documents, upserts revised
and new documents (``merge_upsert``), deletes a seeded id range
(``delete_where``), then runs one curation pass: read → ``exact_dedup``
→ ``minhash_lsh_pairs`` → ``gopher_rules`` → ``bpe_token_count_col`` →
``cosine_topk_arrow`` → write of the curated output.

Writes exercise the format layer from the write side, the copy-on-write
and deletion-vector paths and the snapshot log; the curation pass puts
most of its time in the LLM ops.  Every op is checked right after it
runs, outside its timed wall: mutations against a DuckDB replay of the
op log, curation against the planted truth, a Python Gopher reference,
the in-process BPE encoder and a numpy brute-force top-k."""

from __future__ import annotations

import os
import re
import time

import duckdb
import numpy as np
import pyarrow as pa

import gen
import probes
from common import chunk_files, clock, dir_bytes, dir_files, median, unstolen

BASE_DOCS = 1_000
APPEND_DOCS = 150
MERGE_DOCS = 200      # half revisions of live docs, half new docs
DELETE_SPAN = 40      # ids per takedown range
TOPK_QUERIES = 8
TOPK_K = 10
LSH_THRESHOLD = 0.7
MUST_FIND_JACCARD = 0.88  # planted pairs at least this similar must be found


class WriteCurateWorkload:
    def __init__(self, spark, ops, tracer, work: str, seed: int) -> None:
        self.spark, self.ops, self.tracer = spark, ops, tracer
        self.work, self.seed = work, seed
        self.out = os.path.join(work, "curated")
        self.append_bytes: list[int] = []
        self.append_walls: list[float] = []
        self.pass_docs: list[int] = []
        self.appended: list[pa.Table] = []
        self.delete_preds: list[list[tuple]] = []
        self.changed: list[tuple[int, int, int]] = []  # (bytes, files, rows)
        self.lsh = [0, 0]  # verified, candidate pairs
        self.storage_ratio = None

    # ----------------------------------------------------------- set-up

    def setup(self) -> None:
        self.corpus = gen.Corpus(self.seed)
        self.rng = np.random.default_rng([self.seed, 4])
        base = self.corpus.batch(BASE_DOCS)
        self.path = os.path.join(self.work, "corpus")
        self.spark.createDataFrame(base).write.format("olive").mode(
            "overwrite").save(self.path)
        self.db = duckdb.connect()
        self.db.execute("CREATE TABLE corpus AS SELECT * FROM base")
        self.live = set(base["doc_id"].to_pylist())

    def warm_up(self) -> None:
        self._append(record=False)
        self._merge(record=False)
        self._delete(record=False)
        self._curate(record=False)

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        while True:
            self._round(record=True)
            if self.storage_ratio is None:
                self.storage_ratio = dir_bytes(self.path) / gen.user_bytes(
                    self._live_table())
            if time.perf_counter() - t0 >= seconds:
                return

    def _round(self, record: bool) -> None:
        # four appends and three deletes per round: one sample of these
        # short ops varies by 10-30% on its own
        self._append(record)
        self._merge(record)
        for _ in range(3):
            self._append(record)
            self._delete(record)
        self._curate(record)

    # -------------------------------------------------------- mutations

    def _append(self, record: bool) -> None:
        batch = self.corpus.batch(APPEND_DOCS, pool=sorted(self.live))
        tr, spark, path = self.tracer, self.spark, self.path
        t = {}

        def run():
            df = spark.createDataFrame(batch)
            t0 = clock()
            with tr.span("datasource.write"):
                df.write.format("olive").mode("append").save(path)
            t["write"] = unstolen(t0)

        if self._mutate("append", run, record) is None:
            return
        self.db.execute("INSERT INTO corpus SELECT * FROM batch")
        self.live.update(batch["doc_id"].to_pylist())
        if record:
            self.append_bytes.append(gen.user_bytes(batch))
            self.append_walls.append(t["write"])
            self.appended.append(batch)

    def _merge(self, record: bool) -> None:
        from olive_spark.ops.maintenance import merge_upsert

        revised = self.rng.choice(sorted(self.live), MERGE_DOCS // 2, replace=False)
        fresh = np.arange(self.corpus.next_id,
                          self.corpus.next_id + MERGE_DOCS - len(revised))
        self.corpus.next_id += len(fresh)
        ids = np.concatenate([revised, fresh]).astype(np.int64)
        src = self.corpus.batch(len(ids), pool=sorted(self.live), ids=ids)
        tr, spark, path = self.tracer, self.spark, self.path

        def run():
            sdf = spark.createDataFrame(src)
            with tr.span("maintenance.merge"):
                merge_upsert(spark, path, sdf, ["doc_id"])
            return self._readback()

        got = self._mutate("merge", run, record, rows=len(ids))
        if got is None:
            return
        self.db.execute("DELETE FROM corpus WHERE doc_id IN (SELECT doc_id FROM src)")
        self.db.execute("INSERT INTO corpus SELECT * FROM src")
        self.live.update(ids.tolist())
        self.ops.check([self._readback_matches(got, "merge")])

    def _delete(self, record: bool) -> None:
        from olive_spark.ops.maintenance import delete_where

        # takedowns fall in the base table's id range, so every delete
        # masks a small share of one file (the deletion-vector path)
        lo = int(self.rng.integers(0, BASE_DOCS - DELETE_SPAN))
        hi = lo + DELETE_SPAN
        tr, spark, path = self.tracer, self.spark, self.path
        n_live = sum(1 for d in self.live if lo <= d < hi)

        def run():
            with tr.span("maintenance.delete"):
                delete_where(spark, path, f"doc_id >= {lo} AND doc_id < {hi}")
            return self._readback()

        got = self._mutate("delete", run, record, rows=n_live)
        if got is None:
            return
        self.db.execute("DELETE FROM corpus WHERE doc_id >= ? AND doc_id < ?",
                        [lo, hi])
        self.live = {d for d in self.live if not lo <= d < hi}
        if record:
            self.delete_preds.append([("doc_id", ">=", lo), ("doc_id", "<", hi)])
        self.ops.check([self._readback_matches(got, "delete")])

    def _mutate(self, kind: str, run, record: bool, rows: int = 0):
        """Run a mutation op; when tracing, also count the bytes and files
        it added to the table directory (outside its timed wall)."""
        before = dir_files(self.path) if self.tracer.enabled else None
        res = self.ops.run(kind, lambda: run() or True, record=record)
        if before is not None and res is not None and record and rows:
            after = dir_files(self.path)
            new = [p for p in after if p not in before]
            self.changed.append((sum(after[p] for p in new), len(new), rows))
        return res

    def _readback(self) -> tuple:
        from pyspark.sql import functions as F

        with self.tracer.span("maintenance.verify_read"):
            row = (
                self.spark.read.format("olive").load(self.path)
                .agg(F.count("*"), F.sum("doc_id"), F.sum(F.length("text")))
                .collect()[0]
            )
        return tuple(row)

    def _readback_matches(self, got, what: str) -> tuple[bool, str]:
        want = self.db.execute(
            "SELECT count(*), sum(doc_id), sum(length(text)) FROM corpus"
        ).fetchone()
        got = tuple(int(x or 0) for x in got)
        want = tuple(int(x or 0) for x in want)
        return got == want, f"{what} read-back {got} != replay {want}"

    def _live_table(self) -> pa.Table:
        ids = sorted(self.live)
        c = self.corpus
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([c.texts[d] for d in ids], pa.string()),
            "embedding": pa.array([c.embeds[d].tolist() for d in ids],
                                  pa.list_(pa.float32())),
        })

    # ---------------------------------------------------------- curate

    def _curate(self, record: bool) -> None:
        from pyspark.sql import functions as F

        from olive_spark.ops.dedup import exact_dedup, minhash_lsh_pairs
        from olive_spark.ops.similarity import cosine_topk_arrow
        from olive_spark.ops.textstats import gopher_rules
        from olive_spark.ops.tokenize import bpe_token_count_col

        live = sorted(self.live)
        # half the queries have a planted neighbour when enough are live
        planted = sorted(q for q, n in self.corpus.neighbours.items()
                         if q in self.live and n in self.live)
        qids = [int(q) for q in self.rng.choice(
            planted, min(len(planted), TOPK_QUERIES // 2), replace=False)]
        rest = sorted(self.live - set(qids))
        qids += [int(q) for q in self.rng.choice(
            rest, TOPK_QUERIES - len(qids), replace=False)]
        queries = [(q, self.corpus.embeds[q].tolist()) for q in qids]
        tr, spark, path, out = self.tracer, self.spark, self.path, self.out
        res = {}

        def run():
            with tr.span("datasource.load"):
                df = spark.read.format("olive").load(path).cache()
                count = df.agg(F.count("*"))
            with tr.span("datasource.plan"):
                count._jdf.queryExecution().executedPlan()
            with tr.span("datasource.exec"):
                res["n"] = count.collect()[0][0]
            try:
                with tr.span("dedup.exact"):
                    res["exact"] = [tuple(r) for r in exact_dedup(df).filter(
                        "dup_count > 1").select("keep_id", "dup_count").collect()]
                with tr.span("dedup.minhash"):
                    res["pairs"] = [tuple(r) for r in minhash_lsh_pairs(
                        df, threshold=LSH_THRESHOLD).select("doc_a", "doc_b").collect()]
                with tr.span("textstats.gopher"):
                    res["passed"] = {r[0]: r[1] for r in gopher_rules(df).select(
                        "doc_id", "passed").collect()}
                with tr.span("tokenize.count"):
                    res["tokens"] = {r[0]: r[1] for r in df.select(
                        "doc_id", bpe_token_count_col(df).alias("n")).collect()}
                with tr.span("similarity.topk"):
                    res["topk"] = [tuple(r) for r in cosine_topk_arrow(
                        df, queries, k=TOPK_K, id_col="doc_id").select(
                        "query_id", "neighbor_id", "cosine").collect()]
                with tr.span("curate.write"):
                    drop = {b for _, b in res["pairs"]}
                    keep = sorted(d for d, ok in res["passed"].items()
                                  if ok and d not in drop)
                    kept = spark.createDataFrame(pa.table({
                        "doc_id": pa.array(keep, pa.int64()),
                        "n_tokens": pa.array([res["tokens"][d] for d in keep],
                                             pa.int32()),
                    }))
                    df.join(kept, "doc_id").select(
                        "doc_id", "text", "n_tokens").write.format(
                        "olive").mode("overwrite").save(out)
                    res["keep"] = keep
            finally:
                df.unpersist()
            return True

        if self.ops.run("curate", run, record=record) is None:
            return
        if record:
            self.pass_docs.append(res["n"])
        self.ops.check(self._check_curate(live, res, qids))

    def _check_curate(self, live: list[int], res: dict, qids: list[int]):
        from olive_spark.ops.tokenize import default_bpe, encode_text

        texts = {d: self.corpus.texts[d] for d in live}
        yield res["n"] == len(live), f"curate read {res['n']} != {len(live)} docs"
        # exact duplicates: every group of identical live texts
        groups: dict[str, list[int]] = {}
        for d in live:
            groups.setdefault(texts[d], []).append(d)
        dup_groups = [g for g in groups.values() if len(g) > 1]
        want = sorted((min(g), len(g)) for g in dup_groups)
        yield sorted(res["exact"]) == want, (
            f"exact_dedup groups {len(res['exact'])} != {len(want)} expected")
        # near duplicates: all identical-text pairs and every planted pair
        # whose live texts are still at least MUST_FIND_JACCARD similar
        found = set(res["pairs"])
        must = {(a, b) for g in dup_groups for a in g for b in g if a < b}
        for a, b in self.corpus.near_pairs:
            if a in texts and b in texts and gen.jaccard(
                    texts[a], texts[b]) >= MUST_FIND_JACCARD:
                must.add((a, b))
        missed = must - found
        yield not missed, f"minhash_lsh_pairs missed {len(missed)} of {len(must)}"
        self.lsh[0] += sum(gen.jaccard(texts[a], texts[b]) >= LSH_THRESHOLD
                           for a, b in found)
        self.lsh[1] += len(found)
        # Gopher gate and token counts against Python references
        wrong = [d for d in live if res["passed"].get(d) != gopher_ref(texts[d])]
        yield not wrong, f"gopher_rules disagrees on {len(wrong)} docs"
        bpe, cache = default_bpe(), {}
        wrong = [d for d in live
                 if res["tokens"].get(d) != len(encode_text(texts[d], bpe, cache))]
        yield not wrong, f"bpe_token_count_col disagrees on {len(wrong)} docs"
        # top-k against numpy brute force over the same live vectors
        mat = np.stack([self.corpus.embeds[d] for d in live]).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        pos = {d: i for i, d in enumerate(live)}
        for q in qids:
            sims = mat @ mat[pos[q]]
            sims[pos[q]] = -np.inf
            best = np.sort(sims)[::-1][:TOPK_K]
            got = sorted((c for qq, _, c in res["topk"] if qq == q), reverse=True)
            ok = len(got) == TOPK_K and np.allclose(got, best, atol=2e-6)
            ok = ok and all(abs(sims[pos[n]] - c) <= 2e-6
                            for qq, n, c in res["topk"] if qq == q)
            nb = self.corpus.neighbours.get(q)
            if ok and nb in pos and sims[pos[nb]] >= 0.99:
                ok = any(qq == q and n == nb for qq, n, _ in res["topk"])
            yield ok, f"cosine_topk_arrow wrong for query {q}"
        # the curated output, read back through the format layer alone
        from olive_spark.format import ChunkReader

        got = {}
        for f in chunk_files(self.out):
            t = ChunkReader.from_path(f).read_table(columns=["doc_id", "n_tokens"])
            got.update(zip(t["doc_id"].to_pylist(), t["n_tokens"].to_pylist()))
        want = {d: res["tokens"][d] for d in res["keep"]}
        yield got == want, (f"curated output has {len(got)} rows, "
                            f"{len(want)} expected or token counts differ")

    # ---------------------------------------------------------- metrics

    def verify(self) -> None:
        """The final table against the DuckDB replay, row for row: an op
        of its own."""
        got = (self.spark.read.format("olive").load(self.path)
               .orderBy("doc_id").toArrow())
        want = self.db.execute(
            "SELECT doc_id, text, embedding FROM corpus ORDER BY doc_id").arrow()
        ok = (got["doc_id"].to_pylist() == want["doc_id"].to_pylist()
              and got["text"].to_pylist() == want["text"].to_pylist()
              and got["embedding"].to_pylist() == want["embedding"].to_pylist())
        self.ops.attempted += 1
        self.ops.check([(ok, "final table differs from the DuckDB replay")])

    def end_to_end(self) -> dict:
        walls = self.ops.walls
        curate = sum(walls.get("curate", []))
        return {
            "storage_ratio": self.storage_ratio,
            "primary_p50_ms": median(walls.get("merge", [])) * 1e3,
            "secondary_p50_ms": median(walls.get("delete", [])) * 1e3,
            "rows_per_s": sum(self.pass_docs) / curate if curate else 0.0,
            "mb_per_s": sum(self.append_bytes) / 1e6 / sum(self.append_walls)
            if self.append_walls else 0.0,
        }

    def details(self) -> dict:
        return {
            "live_docs": len(self.live),
            "files": len(chunk_files(self.path)),
            "rounds": len(self.ops.walls.get("curate", [])),
            "planted_near_pairs": len(self.corpus.near_pairs),
            "planted_min_jaccard": min(self.corpus.near_pairs.values(), default=None),
        }

    def per_layer(self) -> dict:
        files = chunk_files(self.path)
        part_ms, files_ratio = probes.partitions(self.path, self.delete_preds)
        w_mbps, stored = probes.format_write(self.appended)
        b, f, r = (sum(x[i] for x in self.changed) for i in range(3))
        n_mut = len(self.changed)
        return {
            "format.read_table_mb_per_s": probes.format_read(files),
            "format.select_pages_ratio": probes.select_pages_ratio(
                files, self.delete_preds),
            "format.write_chunk_mb_per_s": w_mbps,
            "format.stored_bytes_per_user_byte": stored,
            "datasource.partitions_ms": part_ms,
            "datasource.files_selected_ratio": files_ratio,
            "maintenance.bytes_written_per_changed_row": b / r if r else 0.0,
            "maintenance.files_added_per_op": f / n_mut if n_mut else 0.0,
            "dedup.lsh_candidate_precision": (
                self.lsh[0] / self.lsh[1] if self.lsh[1] else 0.0),
        }


_GOPHER_STOP = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_ref(text: str, min_words: int = 50, max_words: int = 100_000,
               min_stopwords: int = 2) -> bool:
    """Python restatement of ``gopher_rules``' default verdict."""
    toks = [t for t in re.split(r"\s+", text.strip()) if t]
    n = len(toks)
    total = sum(len(t) for t in toks)
    sym = text.count("#") + text.count("...") + text.count("…")
    lines = text.split("\n")
    bullet = sum(1 for ln in lines if re.match(r"^\s*[-*•]", ln))
    ell_end = sum(1 for ln in lines if re.search(r"(\.\.\.|…)$", ln.rstrip()))
    alpha = sum(1 for t in toks if re.search(r"[A-Za-z]", t))
    stop = len({t.lower() for t in toks} & set(_GOPHER_STOP))
    return (min_words <= n <= max_words
            and n > 0 and 3 * n <= total <= 10 * n
            and 10 * sym < n
            and 10 * bullet < 9 * len(lines)
            and 10 * ell_end < 3 * len(lines)
            and 5 * alpha >= 4 * n
            and stop >= min_stopwords)
