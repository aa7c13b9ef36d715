"""The one recall law: fixed-count anchors, one pair frame, recall@K.

A recall audit's exact ground-truth arm costs O(anchors × corpus): if
anchors are a fixed *fraction* of the corpus (the old
``vec_id % TOPK_QUERY_MOD == 0`` rule) the audit is O(corpus²/mod) and
stops being runnable long before 100 TB. The production pattern is a
fixed *count*: sample N anchor queries deterministically, so the audit
costs O(N · corpus) — linear in the corpus — at any scale. This module
holds that sampler and the recall law built on it, shared by all five
recall evals: ``ivf_recall_eval`` / ``ivf_recall_eval_nprobe2``
(operators/annrecall.py), ``pq_recall_eval`` / ``sq8_recall_eval``
(operators/quantrecall.py) and ``matryoshka_recall_eval``
(operators/matryoshka.py).

Selection rule: the ``ANCHOR_COUNT`` ids whose ``md5(CAST(id AS
VARCHAR))`` hex sorts lowest (id tiebreak) — the same
deterministic-hash-order convention as ``stratified_sample_exact``
(operators/stratified.py) and the IVF training sample
(similarity.TRAIN_SAMPLE_BELOW), so both engines derive the identical
anchor set with no RNG and no dependence on row order. Spark plans it
as a ``TakeOrderedAndProject`` (distributed partial top-N, no global
exchange).

Recall law: :func:`anchor_pairs` broadcasts the anchor rows onto one
corpus scan (the ``cosine_topk`` shape); each eval scores every pair
twice — ``exact`` (ground truth) and ``approx`` (the index's score,
NULL where the index does not retrieve the neighbor) — and
:func:`recall_at_k` ranks both per query and counts the overlap. No
join between the two rankings: both top-K sets are windows over the
same rows. The recall denominator is the per-query exact top-K count
(== K except on a corpus smaller than K+1). The DuckDB oracles keep
the join form (:func:`sql_recall_tail`), an independent reference for
the pair-frame form.

Reference parity: none (shared machinery for SURVEY §2.12a
L168/L170/L170b/L174/L175).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

#: anchor queries per recall audit — FIXED, not a corpus fraction, so
#: the exact ground-truth arm is O(ANCHOR_COUNT · corpus) at any scale.
ANCHOR_COUNT = 20


def anchor_vec_ids(corpus: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """The ``ANCHOR_COUNT`` md5-lowest ids of ``corpus`` — a bounded
    (≤ANCHOR_COUNT-row) single-column frame, planned as a distributed
    TakeOrderedAndProject."""
    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    return corpus.select(id_col).orderBy(h, F.col(id_col)).limit(ANCHOR_COUNT)


def anchor_pairs(corpus: DataFrame, anchors: DataFrame | None = None) -> DataFrame:
    """Every (anchor, corpus row) pair except self-pairs. ``corpus`` is
    keyed by ``vec_id``; the anchor side's columns come out ``q_``-
    prefixed next to ``query_id``, the corpus side's unprefixed next to
    ``neighbor_id``. The ≤ANCHOR_COUNT anchor ids are pinned once, so
    the plan reads the corpus only for the anchor rows and the cross.
    They default to ``anchor_vec_ids(corpus)``; a caller whose corpus
    carries derived columns passes the ids of its base frame, so the
    pinning job skips the derivation."""
    ids = anchor_vec_ids(corpus) if anchors is None else anchors
    q = corpus.join(F.broadcast(ids.localCheckpoint(eager=True)), "vec_id")
    q = q.select(
        F.col("vec_id").alias("query_id"),
        *[F.col(c).alias(f"q_{c}") for c in corpus.columns if c != "vec_id"],
    )
    return (
        F.broadcast(q)
        .crossJoin(corpus.withColumnRenamed("vec_id", "neighbor_id"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )


def recall_at_k(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, n_overlap, recall_permille) from a pair frame carrying
    ``exact`` and ``approx`` scores: the top-K by ``exact`` desc and by
    ``approx`` desc NULLS LAST (both tie-broken on ``neighbor_id``)
    overlap where ``approx`` is non-NULL; the denominator is the
    per-query exact top-K count."""
    by_q = W.partitionBy("query_id")
    in_exact = (
        F.row_number().over(by_q.orderBy(F.desc("exact"), "neighbor_id")) <= k
    )
    in_approx = (
        F.row_number().over(by_q.orderBy(F.desc_nulls_last("approx"), "neighbor_id"))
        <= k
    ) & F.col("approx").isNotNull()
    return (
        pairs.select(
            "query_id",
            F.when(in_exact & in_approx, 1).otherwise(0).alias("_hit"),
            F.when(in_exact, 1).otherwise(0).alias("_ex"),
        )
        .groupBy("query_id")
        .agg(
            F.sum("_hit").cast("long").alias("n_overlap"),
            F.sum("_ex").cast("long").alias("n_exact"),
        )
        .select(
            "query_id",
            "n_overlap",
            F.expr("CAST((1000 * n_overlap) DIV n_exact AS BIGINT)").alias(
                "recall_permille"
            ),
        )
    )


def sql_anchor_cte(src: str, id_col: str = "vec_id") -> str:
    """DuckDB twin of :func:`anchor_vec_ids` as a CTE body (no name):
    ``SELECT {id_col} FROM {src} ORDER BY md5 hex, id LIMIT N``."""
    return (
        f"SELECT {id_col} FROM {src} "
        f"ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col} "
        f"LIMIT {ANCHOR_COUNT}"
    )


def sql_recall_tail(src: str, exact: str, k: int) -> str:
    """DuckDB twin of :func:`recall_at_k` in join form, written after the
    caller's ``anchors`` (:func:`sql_anchor_cte`) and ``approx(query_id,
    neighbor_id, approx)`` CTEs: the top-K of ``approx``, the exact
    top-K of anchor × ``src`` pairs scored by ``exact`` (an expression
    over aliases ``q`` and ``c``), and their left-joined overlap."""
    return f"""
    approx_k AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY approx DESC, neighbor_id) AS rnk
            FROM approx
        ) WHERE rnk <= {k}
    ),
    exact_k AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {exact} DESC, c.vec_id) AS rnk
            FROM {src} q JOIN {src} c ON c.vec_id != q.vec_id
            WHERE q.vec_id IN (SELECT vec_id FROM anchors)
        ) WHERE rnk <= {k}
    )
    SELECT e.query_id,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST((1000 * SUM(CASE WHEN a.neighbor_id IS NOT NULL
                                 THEN 1 ELSE 0 END)) // COUNT(*)
                AS BIGINT) AS recall_permille
    FROM exact_k e LEFT JOIN approx_k a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """
