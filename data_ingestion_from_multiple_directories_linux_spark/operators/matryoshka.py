"""Matryoshka truncation eval: does low-dim search keep full-dim rank?

Embedding pipelines at scale serve TRUNCATED vectors (matryoshka
representation learning trains embeddings so a prefix of the dims is
itself a usable embedding): a 100 TB index over 16 of 64 dims is 4×
smaller and faster, IF the truncated ranking still finds what the
full ranking finds. That "if" is an empirical, corpus-specific number
— this operator measures it: for every anchor query, the overlap
between the full-dim cosine top-K and the prefix-dim cosine top-K
(recall@K of truncated search against the full-dim ground truth).

One pass, as a caller of the recall law (operators/anchors.py): the
fixed-count anchor rows broadcast onto the corpus scan (the
cosine_topk shape — O(ANCHOR_COUNT · corpus) at any scale, the corpus
never shuffles), and both quantized cosines are computed per pair from
the same row: the full-dim one is ``exact``, the prefix one
``approx``.

Determinism: quantized integer cosines (functions/vectors), unique
vec_id tiebreaks in both rankings, truncation is an exact list prefix
— both engines slice identically.

Reference parity: none; SURVEY §2.12a additive (L168).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import (
    cosine_q,
    dot_q,
    norm_sq_q,
    sql_cosine_q,
    sql_dot_q,
    sql_norm_sq_q,
    to_double_array,
)
from .anchors import anchor_pairs, recall_at_k, sql_anchor_cte, sql_recall_tail
from .registry import query
from .similarity import E_SQL, load_embeddings

#: ranking depth the recall is measured at.
MRL_K = 10
#: prefix dims of the truncated ("matryoshka") embedding.
MRL_TRUNC_DIM = 16


def _sql_cos(a: str, b: str) -> str:
    return sql_cosine_q(sql_dot_q(a, b), sql_norm_sq_q(a), sql_norm_sq_q(b))


@query(
    "matryoshka_recall_eval",
    oracle=f"""
    WITH e AS ({E_SQL}),
    anchors AS ({sql_anchor_cte('e')}),
    approx AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_cos(f'list_slice(c.v, 1, {MRL_TRUNC_DIM})',
                         f'list_slice(q.v, 1, {MRL_TRUNC_DIM})')} AS approx
        FROM e q JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id IN (SELECT vec_id FROM anchors)
    ),
    {sql_recall_tail('e', _sql_cos('c.v', 'q.v'), MRL_K)}""",
)
def matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_overlap, recall_permille) per anchor query: how
    many of the full-dim cosine top-MRL_K neighbors the
    MRL_TRUNC_DIM-dim prefix ("matryoshka") ranking also puts in its
    top-MRL_K — recall@MRL_K of truncated search vs the full-dim
    ground truth, the number that decides whether a 4×-smaller index
    is safe to serve."""
    e = load_embeddings(spark, sf_dir).select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    e = e.select("vec_id", "v", F.slice("v", 1, MRL_TRUNC_DIM).alias("vt"))
    e = e.select("*", norm_sq_q("v").alias("nv"), norm_sq_q("vt").alias("nvt"))
    return recall_at_k(
        anchor_pairs(e).select(
            "query_id",
            "neighbor_id",
            cosine_q(dot_q("v", "q_v"), F.col("nv"), F.col("q_nv")).alias("exact"),
            cosine_q(dot_q("vt", "q_vt"), F.col("nvt"), F.col("q_nvt")).alias(
                "approx"
            ),
        ),
        MRL_K,
    )
