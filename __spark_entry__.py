"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All queries live in the package's operator registry
(data_ingestion_from_multiple_directories_linux_spark/operators/*);
this module only exposes them.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

# Importing the operator modules populates the registry.
from data_ingestion_from_multiple_directories_linux_spark.operators import (  # noqa: E402
    annrecall,  # noqa: F401
    asof,  # noqa: F401
    attribution,  # noqa: F401
    bloomdedup,  # noqa: F401
    calibration,  # noqa: F401
    cellbalance,  # noqa: F401
    cluster_weights,  # noqa: F401
    containment,  # noqa: F401
    corpus,  # noqa: F401
    corpus_stats,  # noqa: F401
    crosslingual,  # noqa: F401
    dedup,  # noqa: F401
    embeval,  # noqa: F401
    frontier_dedup,  # noqa: F401
    graphs,  # noqa: F401
    grouping,  # noqa: F401
    ivf_autok,  # noqa: F401
    leakage_split,  # noqa: F401
    linkgraph,  # noqa: F401
    maintenance,  # noqa: F401
    matching,  # noqa: F401
    matryoshka,  # noqa: F401
    mixture,  # noqa: F401
    multimodal,  # noqa: F401
    novelty,  # noqa: F401
    politeness,  # noqa: F401
    preference,  # noqa: F401
    profiling,  # noqa: F401
    quantrecall,  # noqa: F401
    rankblend,  # noqa: F401
    relational,  # noqa: F401
    reranking,  # noqa: F401
    retrieval,  # noqa: F401
    selection,  # noqa: F401
    semistructured,  # noqa: F401
    similarity,  # noqa: F401
    sketches,  # noqa: F401
    stratified,  # noqa: F401
    substring_dedup,  # noqa: F401
    text_analysis,  # noqa: F401
    timeseries,  # noqa: F401
    tpch,  # noqa: F401
    tpch_final,  # noqa: F401
    traindata,  # noqa: F401
    training,  # noqa: F401
    urlnorm,  # noqa: F401
    warehouse,  # noqa: F401
    windows,  # noqa: F401
)
from data_ingestion_from_multiple_directories_linux_spark.operators.registry import (  # noqa: E402
    ORACLES,
    QUERIES,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q1_pricing_summary"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (omitted ⇒ rows-only check)."""
    return dict(ORACLES)
