"""ANN recall eval: IVF search graded against exact ground truth.

The number every ANN deployment is judged by — recall@K of the index
against brute force — existed in this engine only implicitly (the IVF
and exact top-k queries are separate, and their agreement was eyeballed
through the kNN audit twins). This operator computes it directly: per
anchor query, the overlap between the trained-IVF cell-pruned top-K
(``ivf_topk_neighbors``'s exact machinery, imported) and the exact
brute-force cosine top-K over the full corpus. Cell-boundary misses —
the cost IVF pays for scanning O(corpus/K_cells) candidates — show up
as recall < 1000; raising nprobe recovers them, and this is the
operator that tells you whether you need to.

Scale shape: one caller of the recall law (operators/anchors.py). The
fixed-count anchor rows broadcast onto one corpus scan (the
cosine_topk shape, O(ANCHOR_COUNT · corpus) at any scale); every pair
carries its exact quantized cosine, and the IVF score is that same
cosine where the two vectors share a probed cell — one
``arrays_overlap`` over per-vector cell sets, no cell self-join.

Reference parity: none; SURVEY §2.12a additive (L170).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_q, dot_q, sql_cosine_q, sql_dot_q
from .anchors import anchor_pairs, recall_at_k, sql_anchor_cte, sql_recall_tail
from .registry import query
from .similarity import (
    LLOYD_ROUNDS,
    TOPK_NEIGHBORS,
    _assign_cells,
    _ivf_train_assign_ctes,
    _sql_assign,
    _trained_centroids,
    _vec_corpus,
)

#: runner-up cells probed by the recovery twin.
NPROBE_RECOVER = 2


def ivf_recall_frame(
    spark: SparkSession, sf_dir: str, nprobe: int = 1
) -> DataFrame:
    """recall@K of IVF search at any probe width — the shared
    implementation behind the two registered queries (nprobe 1 and
    NPROBE_RECOVER) and bench.py's ``ann_recall_curve`` section,
    which records the recall/cost curve over nprobe 1..4 every round
    so the production knob has a measured curve, not two samples.

    (query_id, n_overlap, recall_permille) per fixed-count md5-rank
    anchor. Each vector carries the set of its ``nprobe`` probed cells,
    left-joined so an empty index still ranks the exact arm (recall
    0); a pair sharing several probed cells scores once."""
    corpus = _vec_corpus(spark, sf_dir)
    cells = (
        _assign_cells(corpus, _trained_centroids(spark, sf_dir), nprobe=nprobe)
        .groupBy("vec_id")
        .agg(F.collect_set("cell").alias("cells"))
    )
    # both pair sides and the anchor sample read it — pin once
    vecs = corpus.join(cells, "vec_id", "left").localCheckpoint(eager=True)
    exact = cosine_q(dot_q("q_v", "v"), F.col("q_nv"), F.col("nv"))
    return recall_at_k(
        anchor_pairs(vecs).select(
            "query_id",
            "neighbor_id",
            exact.alias("exact"),
            F.when(F.arrays_overlap("q_cells", "cells"), exact).alias("approx"),
        ),
        TOPK_NEIGHBORS,
    )


def _recall_oracle_sql(nprobe: int) -> str:
    cos = sql_cosine_q(sql_dot_q("q.v", "c.v"), "q.nv", "c.nv")
    # ground truth reads CORPUS, not the assignment: on a corpus whose
    # training sample is empty (single-row sweep) the index is empty
    # but the exact arm still ranks — recall 0, not "no rows"
    return f"""
    {_ivf_train_assign_ctes()},
    anchors AS ({sql_anchor_cte('corpus')}),
    {_sql_assign(f'cent{LLOYD_ROUNDS}', 'corpus', 'probed', nprobe)},
    approx AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {cos} AS approx
        FROM probed q JOIN probed c
          ON q.cell = c.cell AND c.vec_id != q.vec_id
        WHERE q.vec_id IN (SELECT vec_id FROM anchors)
    ),
    {sql_recall_tail('corpus', cos, TOPK_NEIGHBORS)}"""


@query("ivf_recall_eval", oracle=_recall_oracle_sql(1))
def ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_overlap, recall_permille) — recall@TOPK_NEIGHBORS
    of the trained-IVF cell-pruned search against exact brute-force
    cosine ground truth, per anchor query. The trained assignment is
    ``ivf_topk_neighbors``'s; the exact arm is the ``cosine_topk``
    shape over the same query set, so this measures ONLY the index's
    cell-boundary loss. Anchors are the fixed-count md5-rank sample
    (anchors.py) — audit cost is O(ANCHOR_COUNT · corpus) at any
    scale."""
    return ivf_recall_frame(spark, sf_dir, nprobe=1)


@query("ivf_recall_eval_nprobe2", oracle=_recall_oracle_sql(NPROBE_RECOVER))
def ivf_recall_eval_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recovery twin of ``ivf_recall_eval``: the same recall@K
    measurement with each vector probed into its NPROBE_RECOVER best
    cells (``_assign_cells(nprobe=NPROBE_RECOVER)`` — vectors near a
    Voronoi face meet their neighbors across it). Read next to
    ``ivf_recall_eval``: the recall lift between the two rows IS the
    measured boundary-loss recovery nprobe buys — the knob a
    production deployment tunes."""
    return ivf_recall_frame(spark, sf_dir, nprobe=NPROBE_RECOVER)
