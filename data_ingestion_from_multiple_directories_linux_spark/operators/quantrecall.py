"""Quantization recall evals: PQ-ADC and SQ8 graded against exact rank.

Round 11-12 made "every index is judged, not assumed" real for the
cell-pruning loss (L170 ``ivf_recall_eval`` + recovery twin) and the
truncation loss (L168 ``matryoshka_recall_eval``). This module closes
the family for the two COMPRESSION losses the engine ships:

* **PQ-ADC** (L174, ``pq_recall_eval``) — recall@K of the product-
  quantized asymmetric-distance ranking (``pq_topk_adc``'s exact
  machinery: shared trained codebooks, shared encoder) against the
  exact quantized-dot ranking. What the 256×-smaller code corpus costs
  in ranking fidelity, per anchor query.
* **SQ8** (L175, ``sq8_recall_eval``) — recall@K of the int8 scalar-
  quantized dot ranking (``sq8_quantized_topk``'s quantizer,
  ``similarity.sq8_codes``) against the same exact ranking. The
  8×-compression loss — far milder than PQ's but NOT free on this
  near-orthogonal corpus (measured ~750 permille vs PQ's ~100 at the
  demo code sizes): top-K membership among near-tie dots is exactly
  where one code step per dimension bites, which is why the number
  must be measured rather than assumed.

Both are callers of the recall law (operators/anchors.py): the
fixed-count anchor rows broadcast onto one corpus scan, every pair
scored by the exact quantized dot and by the compressed score, both
ranked per query in one pass — O(ANCHOR_COUNT · corpus) at any scale.

Oracle note: the PQ oracle trains and encodes through the same SQL
builder as ``pq_topk_adc``'s (``similarity._sql_pq_ctes``) and ranks
by the M×K lookup-table join — an independent form of the Spark side's
decoded-vector dot, so any drift between the two fails the hash-compare
loudly rather than silently diverging.

Reference parity: none; SURVEY §2.12a additive (L174/L175).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import dot_q, sql_dot_q, to_double_array
from .anchors import (
    anchor_pairs,
    anchor_vec_ids,
    recall_at_k,
    sql_anchor_cte,
    sql_recall_tail,
)
from .registry import query
from .similarity import (
    E_SQL,
    TOPK_NEIGHBORS,
    _pq_assign,
    _pq_slices,
    _sql_pq_ctes,
    _sql_sq8_ctes,
    _sql_sq8_dot,
    _trained_pq_codebooks,
    load_embeddings,
    sq8_codes,
    sq8_dot,
)

#: the exact arm both oracles share: quantized dot over the corpus
_SQL_EXACT_DOT = sql_dot_q("q.v", "c.v")


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_embeddings(spark, sf_dir).select(
        "vec_id", to_double_array("embedding").alias("v")
    )


@query(
    "pq_recall_eval",
    oracle=f"""
    WITH e AS ({E_SQL}),
    {_sql_pq_ctes('', 'e', 'e')},
    anchors AS ({sql_anchor_cte('e')}),
    qtab AS (
        SELECT q.vec_id AS query_id, c.m, c.cid,
               {sql_dot_q('q.sv', 'c.cv')} AS pdot
        FROM csl q JOIN cent1 c ON c.m = q.m
        WHERE q.vec_id IN (SELECT vec_id FROM anchors)
    ),
    approx AS (
        SELECT t.query_id, k.vec_id AS neighbor_id,
               CAST(SUM(t.pdot) AS BIGINT) AS approx
        FROM codes k
        JOIN qtab t ON t.m = k.m AND t.cid = k.cell
                    AND k.vec_id != t.query_id
        GROUP BY t.query_id, k.vec_id
    ),
    {sql_recall_tail('e', _SQL_EXACT_DOT, TOPK_NEIGHBORS)}""",
)
def pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_overlap, recall_permille) — recall@TOPK_NEIGHBORS
    of the PQ-ADC ranking against the exact quantized-dot ranking, per
    fixed-count anchor. Codebooks and encoder are ``pq_topk_adc``'s
    (shared ``_trained_pq_codebooks``/``_pq_assign``), so this
    measures ONLY the quantization loss of the 256×-smaller code
    corpus. The ADC score Σ_m dot(q_m, centroid[m][code_m]) is one
    quantized dot of the query with the neighbor's decoded code
    centroids — dot_q is an elementwise BIGINT sum, so it equals the
    M×K lookup-table sum exactly."""
    e = _vectors(spark, sf_dir)
    cent = _trained_pq_codebooks(spark, sf_dir)
    decoded = (
        _pq_assign(_pq_slices(e, ["vec_id"]), cent)
        .join(F.broadcast(cent.withColumnRenamed("cid", "cell")), ["m", "cell"])
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", "cv"))).alias("mc"))
        .select("vec_id", F.flatten(F.transform("mc", lambda s: s["cv"])).alias("pq"))
    )
    # left join: an empty codebook leaves pq NULL — recall 0, not no rows
    pairs = anchor_pairs(e.join(decoded, "vec_id", "left"), anchor_vec_ids(e))
    return recall_at_k(
        pairs.select(
            "query_id",
            "neighbor_id",
            dot_q("q_v", "v").alias("exact"),
            dot_q("q_v", "pq").alias("approx"),
        ),
        TOPK_NEIGHBORS,
    )


@query(
    "sq8_recall_eval",
    oracle=f"""
    WITH e AS ({E_SQL}),
    anchors AS ({sql_anchor_cte('e')}),
    {_sql_sq8_ctes('vec_id')},
    approx AS (
        SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_sq8_dot('a.q', 'c.q')} AS approx
        FROM qe a JOIN qe c ON c.vec_id != a.vec_id
        WHERE a.vec_id IN (SELECT vec_id FROM anchors)
    ),
    {sql_recall_tail('e', _SQL_EXACT_DOT, TOPK_NEIGHBORS)}""",
)
def sq8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_overlap, recall_permille) — recall@TOPK_NEIGHBORS
    of the int8 scalar-quantized dot ranking against the exact
    quantized-dot ranking, per fixed-count anchor. Scales and codes are
    ``sq8_quantized_topk``'s quantizer (``sq8_codes``); the measured
    number is what 8× compression costs in ranking fidelity (vs PQ's
    256× — read the two evals together)."""
    e = _vectors(spark, sf_dir)
    pairs = anchor_pairs(sq8_codes(e, "vec_id", "v"), anchor_vec_ids(e))
    return recall_at_k(
        pairs.select(
            "query_id",
            "neighbor_id",
            dot_q("q_v", "v").alias("exact"),
            sq8_dot("q_q", "q").alias("approx"),
        ),
        TOPK_NEIGHBORS,
    )
