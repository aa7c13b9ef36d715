"""Streaming BM25 index maintenance: the persisted inverted index kept
current per micro-batch, queries served from the merged segments.

The batch query (operators/retrieval.py ``bm25_topk``) tokenizes the
corpus into a (doc_id, term, tf) inverted index and scores from it. A
crawl stream should never re-tokenize history to refresh that index:
tf rows are pure partial counts over disjoint document slices, so each
micro-batch contributes its own index segment to a
:class:`~.segments.SegmentTable` (scope, replay and compaction rules
are stated there; tf merges by SUM per (doc_id, term)), and the serving
path reads the merged segments through THE SAME
``bm25_scored_from_index`` the batch query uses (one scorer, two
surfaces; the incremental-MinHash band-index precedent, dedup.py).

A per-segment doc-count cell rides alongside the tf rows: token-less
documents carry no index rows but still shift idf's N and the
dl·N/n_tok normalization, so the corpus document count cannot be
recovered from the index itself.

Contract: cross-batch document identity is UPSTREAM's job (the crawl
frontier emits each canonical resource exactly once — L140); this
maintainer guarantees replay idempotency per batch, not cross-batch
dedup.

At 100 TB: each batch tokenizes only its own documents; the segment
table is append-shaped and :meth:`StreamingBM25Index.compact` folds
settled segments; serving cost is the batch scorer's (index probe
bounded by query terms — never a corpus rescan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.retrieval import (
    TOP_K,
    bm25_scored_from_index,
    build_tf_index,
)
from ..sources.table_store import TableStore
from .segments import SegmentTable, drain, json_stream

#: per-batch index segments: (checkpoint, batch_id, doc_id, term, tf).
BM25_TF_PARTIALS = "bm25_tf_partials"
BM25_TF_DDL = (
    "checkpoint string, batch_id bigint, doc_id bigint, term string, tf bigint"
)
#: per-batch document-count cells (token-less docs included).
BM25_DOC_PARTIALS = "bm25_doc_partials"
BM25_DOC_DDL = "checkpoint string, batch_id bigint, n_docs bigint"


class StreamingBM25Index:
    """Maintain the BM25 inverted index over a JSON document stream
    (availableNow micro-batches, checkpointed) and serve the batch
    ranking from the merged segments."""

    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        source_dir: str,
        checkpoint_dir: str,
        schema: str = "doc_id bigint, text string",
    ) -> None:
        self.spark = spark
        self.store = store
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        self.tf_segments = SegmentTable(
            store, BM25_TF_PARTIALS, checkpoint_dir,
            keys=("doc_id", "term"), sums=("tf",), ddl=BM25_TF_DDL,
        )
        self.doc_segments = SegmentTable(
            store, BM25_DOC_PARTIALS, checkpoint_dir,
            keys=(), sums=("n_docs",), ddl=BM25_DOC_DDL,
        )

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Replace this batch's index segment + doc cell (idempotent)."""
        self.tf_segments.replace(
            batch_id, build_tf_index(batch_df.select("doc_id", "text"))
        )
        self.doc_segments.replace(
            batch_id, batch_df.select(F.count("*").cast("long").alias("n_docs"))
        )

    def run_available_now(self) -> None:
        drain(
            json_stream(self.spark, self.schema, self.source_dir),
            self._merge_batch,
            self.checkpoint_dir,
        )

    def compact(self) -> None:
        """Fold settled index segments and doc cells (the SegmentTable
        compaction); :meth:`tf`, :meth:`n_docs` and serving are
        bit-identical before and after."""
        self.tf_segments.compact()
        self.doc_segments.compact()

    def tf(self) -> DataFrame:
        """Merged (doc_id, term, tf) index over everything ingested."""
        return self.tf_segments.merged()

    def n_docs(self) -> DataFrame:
        """1-row (n_docs) frame — token-less documents included."""
        return self.doc_segments.merged().select(
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs")
        )

    def topk(self) -> DataFrame:
        """The bm25_topk ranking served from the streamed index — the
        SAME scorer and window the registered batch query runs, so the
        two surfaces cannot disagree on the same corpus.

        The scorer persists the merged tf frame it probes (5 internal
        consumers); this maintainer is LONG-LIVED, so that cache is
        scoped to THIS call — materialize the (top-K-sized) ranking,
        then release the frame — or every serve/refresh would leak one
        corpus-sized cached index (the drift-monitor ``drift()``
        discipline)."""
        tf = self.tf()
        scored = bm25_scored_from_index(tf, self.n_docs())
        rn = F.row_number().over(
            W.partitionBy("query_id").orderBy(
                F.desc("bm25_micro"), F.asc("doc_id")
            )
        )
        ranked = (
            scored.withColumn("rank", rn.cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "doc_id", "bm25_micro", "n_terms_hit", "rank")
        )
        try:
            # the scorer persisted THIS tf plan object (persist()
            # returns self), so the handle releases the scorer's cache
            return ranked.localCheckpoint(eager=True)
        finally:
            tf.unpersist()
