"""Streaming IVF index maintenance: new vectors assigned to the
persisted centroids per micro-batch, search and cell-balance served
from the merged assignment.

The IVF artifacts already persist and serve cross-process (trained
centroids via ``save_ivf_centroids`` / ``load_ivf_centroids``, PQ
codebooks likewise — the L122/L141 cadence), but until this module new
vectors were only assigned at QUERY time: a continuously-ingesting
deployment had no maintainer that keeps the assignment current as the
corpus grows. This closes that gap on the segment law every streaming
maintainer shares (streaming/segments.py states the scope, replay and
compaction rules):

* each micro-batch's vectors pass the similarity family's validation
  gate (declared dim, finite elements), are assigned to their nearest
  PERSISTED centroid (``_assign_cells`` against ``load_ivf_centroids``
  — the centroids are pinned; assignment is a pure function of vector
  and centroids, so batch boundaries cannot change any vector's cell);
* the batch's rows land as one assignment segment of a
  :class:`~.segments.SegmentTable`; assignment rows are per-vector
  facts, so segments merge by union and compaction is a key rewrite;
* ``topk()`` serves the ``ivf_topk_neighbors`` ranking from the merged
  segments — pinned EQUAL to the registered batch query over the same
  corpus in tests (the one-scorer-two-surfaces contract, enforced by
  equality rather than shared code so the batch query's file stays
  untouched);
* ``cell_balance()`` reports per-cell occupancy through the SAME
  :func:`operators.cellbalance.cell_occupancy` the oracle-checked
  batch twin (L172, ``ivf_cell_balance``) runs — max
  ``imbalance_permille`` is the retrain trigger, and
  ``retrain_if_drifted()`` pulls it: retrain on the full merged corpus
  (auto-K √n rule), atomic-swap the centroids table to the new
  generation, rebuild the segments against it with their
  (checkpoint, batch_id) keys preserved — the complete
  drift→retrain→cutover lifecycle (pytest: a planted drift cluster
  trips the trigger; the retrain strictly reduces the imbalance and
  serving continues).

Contract: cross-batch vector identity is upstream's job (ingest each
vec_id once); this maintainer guarantees replay idempotency per batch.
At 100 TB: each batch pays K assignment dots per vector (map-only —
the centroid frame broadcasts); the segment table is append-shaped;
serving probes cells, never the corpus.

Reference parity: none (the reference has no vector surface); additive
§2.12a L172 — the maintainer half.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.cleansing import DBL_MAX
from ..functions.vectors import cosine_q, dot_q, norm_sq_q
from ..operators.cellbalance import cell_occupancy
from ..operators.similarity import (
    EMB_DIM,
    TOPK_NEIGHBORS,
    TOPK_QUERY_MOD,
    _assign_cells,
    choose_k,
    load_ivf_centroids,
    save_ivf_centroids,
    train_ivf_centroids,
)
from ..sources.table_store import TableStore
from .segments import SegmentTable, drain, json_stream

#: per-batch assignment segments.
IVF_ASSIGN_SEGMENTS = "ivf_assign_segments"
IVF_ASSIGN_DDL = (
    "checkpoint string, batch_id bigint, vec_id bigint, "
    "v array<double>, nv bigint, cell bigint"
)


class StreamingIvfIndex:
    """Maintain the IVF assignment over a JSON vector stream
    (availableNow micro-batches, checkpointed) and serve search +
    cell-balance from the merged segments."""

    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        source_dir: str,
        checkpoint_dir: str,
        centroids_table: str,
        schema: str = "vec_id bigint, embedding array<double>",
    ) -> None:
        self.spark = spark
        self.store = store
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.centroids_table = centroids_table
        self.schema = schema
        self.segments = SegmentTable(
            store, IVF_ASSIGN_SEGMENTS, checkpoint_dir,
            keys=("vec_id", "v", "nv", "cell"), ddl=IVF_ASSIGN_DDL,
        )

    def _assign_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Replace this batch's assignment segment (idempotent)."""
        # the similarity family's validation gate (load_embeddings,
        # similarity.py): declared dim, no NULL/nonfinite elements —
        # malformed vectors never reach the quantized-BIGINT paths
        vecs = batch_df.filter(
            (F.size("embedding") == EMB_DIM)
            & ~F.exists(
                "embedding",
                lambda x: x.isNull() | ~x.between(-DBL_MAX, DBL_MAX),
            )
        ).select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        vecs = vecs.withColumn("nv", norm_sq_q("v"))
        cent = load_ivf_centroids(self.store, self.centroids_table)
        self.segments.replace(batch_id, _assign_cells(vecs, cent))

    def run_available_now(self) -> None:
        drain(
            json_stream(self.spark, self.schema, self.source_dir),
            self._assign_batch,
            self.checkpoint_dir,
        )

    def compact(self) -> None:
        """Fold settled assignment segments (the SegmentTable
        compaction — a key rewrite), so :meth:`assigned`, serving and
        the balance report are row-identical before and after."""
        self.segments.compact()

    def assigned(self) -> DataFrame:
        """Merged (vec_id, v, nv, cell) assignment over everything
        ingested — the same shape ``_assign_cells`` returns, so every
        batch consumer of an assignment can read it."""
        return self.segments.merged()

    def topk(self) -> DataFrame:
        """The ``ivf_topk_neighbors`` ranking served from the streamed
        assignment: per anchor query (vec_id % TOPK_QUERY_MOD == 0 —
        the batch query's set), the top-K in-cell cosine neighbors,
        (cosine desc, neighbor_id) tiebreak. Pinned equal to the
        registered batch query over the same corpus+centroids in
        tests/test_ivf_stream.py."""
        assigned = self.assigned().localCheckpoint(eager=True)
        q = assigned.filter(F.col("vec_id") % TOPK_QUERY_MOD == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nv").alias("qn"),
            "cell",
        )
        c = assigned.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("cv_"),
            F.col("nv").alias("cn"),
            F.col("cell").alias("cell_c"),
        )
        cos = cosine_q(dot_q("qv", "cv_"), F.col("qn"), F.col("cn"))
        scored = q.join(
            c,
            (F.col("cell") == F.col("cell_c"))
            & (F.col("neighbor_id") != F.col("query_id")),
        ).select("query_id", "neighbor_id", cos.alias("cosine"))
        rn = F.row_number().over(
            W.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
        )
        return (
            scored.withColumn("rank", rn.cast("long"))
            .filter(F.col("rank") <= TOPK_NEIGHBORS)
            .select("query_id", "neighbor_id", "rank", "cosine")
        )

    def cell_balance(self) -> DataFrame:
        """(cell, n_vecs, share_permille, imbalance_permille) over the
        merged assignment — the continuously-updated form of the
        oracle-checked ``ivf_cell_balance`` report (same function).
        Retrain when max imbalance_permille crosses the deployment's
        threshold (:meth:`retrain_if_drifted` pulls that trigger)."""
        return cell_occupancy(self.assigned())

    def max_imbalance_permille(self) -> int | None:
        """Max per-cell imbalance (1000 = perfectly balanced) — THE
        retrain-trigger scalar; None while the index is empty."""
        row = self.cell_balance().agg(
            F.max("imbalance_permille").alias("m")
        ).collect()
        return None if not row else row[0]["m"]

    def retrain_if_drifted(
        self, threshold_permille: int = 3000
    ) -> bool:
        """Pull the retrain trigger: when the merged assignment's max
        cell imbalance crosses ``threshold_permille`` (a drifting
        corpus — new topics, new languages — concentrating into few
        cells), retrain centroids on the FULL merged corpus
        (``train_ivf_centroids``'s own md5 sampling + the production
        auto-K √n rule, so K grows with the corpus the maintainer has
        actually accumulated), persist them as the new generation of
        the centroids table (atomic swap — every later batch and every
        serve call reads the new generation), and rebuild the existing
        assignment segments against it in one pass, preserving each
        row's (checkpoint, batch_id) key so the replay discipline
        survives the cutover. Returns True iff a retrain ran.

        At 100 TB: training samples (25% md5 rule inside
        train_ivf_centroids — swap in a steeper sample upstream if the
        corpus outgrows it); the rebuild is the same broadcast map-only
        assignment every batch pays, over the segment table once."""
        m = self.max_imbalance_permille()
        if m is None or m < threshold_permille:
            return False
        # pin the segments: the rebuild below overwrites the table the
        # plan reads (the read-modify-write rule every maintainer here
        # follows)
        seg = self.store.read(IVF_ASSIGN_SEGMENTS).localCheckpoint(
            eager=True
        )
        base = seg.select("vec_id", "v", "nv")
        cent = train_ivf_centroids(base, k=choose_k(base.count()))
        save_ivf_centroids(self.store, self.centroids_table, cent)
        newcells = _assign_cells(
            base, load_ivf_centroids(self.store, self.centroids_table)
        ).select("vec_id", F.col("cell").alias("__new_cell"))
        rebuilt = (
            seg.drop("cell")
            .join(newcells, "vec_id")
            .select(
                "checkpoint",
                "batch_id",
                "vec_id",
                "v",
                "nv",
                F.col("__new_cell").alias("cell"),
            )
        )
        self.store.overwrite(IVF_ASSIGN_SEGMENTS, rebuilt)
        return True
