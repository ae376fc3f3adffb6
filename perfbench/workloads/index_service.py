"""index_service — multi-commit service ticks with reads beside the writes.

Set-up commits a seeded vector table and document corpus as snapshot tables
and builds both indexes (IVF postings + forward map, and the LSH band index)
from their change feeds. Each timed op is one tick:

1. a seeded vector delta is committed: inserts and in-place updates, half
   of them moving across cells, in one ``snapshot_upsert_rows``, and
   deletes in one ``snapshot_delete_rows``;
2. ``similarity.maintain_vector_index`` runs its two threaded commit chains;
3. a batch of new documents lands with ``snapshot_append`` and
   ``dedup_ops.maintain_band_index`` ticks on it;
4. three cell-probe top-k reads over the postings (``snapshot_read`` +
   ``similarity.cosine``), each counted as a read and checked exactly
   against the same arithmetic over the generator's live vectors. Three
   rather than one, so a run's read median rests on more than one sample.
"""

from __future__ import annotations

import math
import time

from perfbench import gen
from perfbench.workloads.base import Workload

_VEC_SCHEMA = "vec_id long, embedding array<float>, p string"
_DOC_SCHEMA = "doc_id long, text string, p string"
_TOP_K = 10
_PROBES_PER_TICK = 3


def _dot(u, w) -> float:
    acc = 0.0
    for x, y in zip(u, w):
        acc = acc + x * y
    return acc


def _cos(u, w) -> float:
    """``similarity.cosine``'s IEEE sequence, so results compare exactly."""
    return _dot(u, w) / (math.sqrt(_dot(u, u)) * math.sqrt(_dot(w, w)))


def nearest_cell(v, centroids) -> int:
    """``assign_to_cells``' rule: highest cosine, ties to the lowest label."""
    best, best_cos = None, -2.0
    for label, c in enumerate(centroids):
        cos = _cos(v, c)
        if cos > best_cos:
            best, best_cos = label, cos
    return best


class IndexService(Workload):
    name = "index_service"

    def setup(self) -> None:
        from callio_etl_spark.snapshots import snapshot_partition_overwrite

        self.feed = gen.IndexFeed(self.seed)
        w = f"{self.work}/warehouse"
        self.vp, self.ip, self.fp = f"{w}/vecs", f"{w}/postings", f"{w}/fwd"
        self.dp, self.bp = f"{w}/docs", f"{w}/bands"
        self.vcursor, self.dcursor = f"{w}/vcursor.json", f"{w}/dcursor.json"
        self.centroids = [[float(x) for x in c] for c in self.feed.centroids]
        self.cells = self.spark.createDataFrame(
            list(enumerate(self.centroids)), "label int, cv array<double>"
        ).localCheckpoint(eager=True)
        with self.tracer.span("setup.bootstrap"):
            snapshot_partition_overwrite(
                self.spark, self._vec_df(sorted(self.feed.vectors.items())),
                self.vp, "p", keep_snapshots=4)
            snapshot_partition_overwrite(
                self.spark, self._doc_df(sorted(self.feed.docs.items())),
                self.dp, "p", keep_snapshots=4)
            self._maintain()

    def _vec_df(self, rows):
        return self.spark.createDataFrame(
            [(k, v, str(k % 4)) for k, v in rows], _VEC_SCHEMA)

    def _doc_df(self, rows):
        return self.spark.createDataFrame(
            [(k, t, str(k % 4)) for k, t in rows], _DOC_SCHEMA)

    def _maintain(self) -> None:
        from callio_etl_spark.llm_ops.dedup_ops import maintain_band_index
        from callio_etl_spark.llm_ops.similarity import maintain_vector_index

        with self.tracer.span("llm_ops.maintain_vector_index"):
            maintain_vector_index(self.spark, self.vp, self.ip, self.fp, self.vcursor,
                                  self.cells, keep_snapshots=4)
        with self.tracer.span("llm_ops.maintain_band_index"):
            maintain_band_index(self.spark, self.dp, self.bp, self.dcursor, keep_snapshots=4)

    def op(self, rec: dict) -> None:
        import pyspark.sql.functions as F

        from callio_etl_spark.snapshots import (
            snapshot_append,
            snapshot_delete_rows,
            snapshot_upsert_rows,
        )

        spark, d = self.spark, self.feed.delta()
        snapshot_upsert_rows(spark, self.vp, self._vec_df(d["upserts"]), ["vec_id"],
                             keep_snapshots=4)
        snapshot_delete_rows(spark, self.vp, F.col("vec_id").isin(d["deletes"]),
                             ["vec_id"], keep_snapshots=4)
        snapshot_append(spark, self._doc_df(d["docs"]), self.dp, "p", keep_snapshots=4)
        rec["rows"] = sum(len(v) for v in d.values())
        self._maintain()
        for _ in range(_PROBES_PER_TICK):
            self.reads.append(self._probe())

    def _probe(self) -> float:
        """One cell-probe top-k read, checked; returns its latency."""
        import pyspark.sql.functions as F

        from callio_etl_spark.llm_ops.similarity import cosine
        from callio_etl_spark.snapshots import snapshot_read

        q = self.feed.query_vector()
        cell = nearest_cell(q, self.centroids)
        t0 = time.perf_counter()
        with self.tracer.span("llm_ops.ann_probe"):
            qv = F.array(*[F.lit(x) for x in q])
            got = [
                r["vec_id"] for r in snapshot_read(self.spark, self.ip)
                .where(F.col("assigned_cell") == cell).select("vec_id")
                .join(snapshot_read(self.spark, self.vp), "vec_id")
                .select("vec_id", cosine(
                    F.transform("embedding", lambda x: x.cast("double")), qv).alias("cos"))
                .orderBy(F.desc("cos"), "vec_id").limit(_TOP_K).collect()
            ]
        latency = time.perf_counter() - t0
        members = [(k, v) for k, v in self.feed.vectors.items()
                   if nearest_cell(v, self.centroids) == cell]
        want = [k for _, k in sorted((-_cos(v, q), k) for k, v in members)[:_TOP_K]]
        if got != want:
            self.mismatch(f"probe cell {cell}: top-{_TOP_K} {got} != {want}")
        return latency

    def verify(self) -> None:
        """Postings == assign_to_cells(live vectors), the forward map equals
        the postings, and the band index == band_projection(live docs)."""
        import pyspark.sql.functions as F

        from callio_etl_spark.llm_ops.dedup_ops import band_projection
        from callio_etl_spark.llm_ops.similarity import assign_to_cells
        from callio_etl_spark.snapshots import snapshot_read

        live = self._vec_df(sorted(self.feed.vectors.items())).select(
            "vec_id", F.lit(-1).cast("int").alias("label"),
            F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        want = {(r[0], r[1]) for r in assign_to_cells(live, self.cells)
                .select("vec_id", "assigned_cell").collect()}
        post = {(r[0], r[1]) for r in snapshot_read(self.spark, self.ip)
                .select("vec_id", "assigned_cell").collect()}
        fwd = {(r[0], r[1]) for r in snapshot_read(self.spark, self.fp)
               .select("vec_id", "assigned_cell").collect()}
        if post != want:
            self.mismatch(f"postings: {len(post ^ want)} rows differ from assign_to_cells")
        if fwd != post:
            self.mismatch(f"forward map: {len(fwd ^ post)} rows differ from the postings")
        docs = self._doc_df(sorted(self.feed.docs.items())).select("doc_id", "text")
        bands_want = {tuple(r) for r in band_projection(docs)
                      .select("doc_id", "band", "band_key").collect()}
        bands = {tuple(r) for r in snapshot_read(self.spark, self.bp)
                 .select("doc_id", "band", "band_key").collect()}
        if bands != bands_want:
            self.mismatch(f"band index: {len(bands ^ bands_want)} rows differ")
