"""The persisted segment law every streaming maintainer stores state by,
and the availableNow driver that feeds it.

``foreachBatch`` is at-least-once: a crash between a batch's writes and
its checkpoint commit replays that batch with the same ``batch_id``. A
maintainer therefore never appends a batch's state; it writes one
SEGMENT per micro-batch into a :class:`SegmentTable`, and the table's
rules make the replay harmless:

* **Scope.** Every row carries ``(checkpoint, batch_id)``. Batch ids
  restart at 0 when a checkpoint directory is cleared, and several
  streams may share one table, so the checkpoint directory names the
  stream. It is stamped as ``os.path.abspath(checkpoint_dir)``: ``ck``
  and ``/cwd/ck`` are one stream and must purge each other's segments.
  Rows stamped with the constructor's own spelling (how tables were
  written before scopes were made absolute) still count as this scope.
* **Replay = purge-then-write.** Writing batch ``b`` rewrites the table
  as every row except this scope's ``b`` segment, plus the new segment
  (one read with the declared ``ddl``, so no footer-inference job, and
  one atomic overwrite). A replay replaces, never adds. Batch 0 starts
  the scope over: a fresh or cleared checkpoint re-offers every file
  from batch 0, so writing batch 0 purges every row of this scope,
  its compacted ``batch_id = -1`` fold included, and the rebuild
  replaces the old state instead of counting it twice.
* **Merge.** The served state is the fold of all segments of all
  scopes. Counting summaries (tf partials, count-min cells, drift
  cells) are mergeable: value columns SUM per key. Per-key facts (IVF
  assignments) merge by union; their fold is only a key rewrite.
* **Compaction.** ``compact()`` folds this scope's settled segments
  into one ``batch_id = -1`` segment by the same merge, so the served
  state is unchanged. Other scopes' rows are untouched: their replays
  must still find their own segments. This scope's highest
  ``batch_id`` stays unfolded: it is the only batch that can still
  replay, and its replay repairs by purging its own segment, which a
  fold would have made a no-op (a double count). One ``max(batch_id)``
  job and one overwrite per compaction (the read is declared too).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.table_store import TableStore


def checkpoint_scope(checkpoint_dir: str) -> str:
    """The stream identity that scopes rows written by one checkpoint."""
    return os.path.abspath(checkpoint_dir)


def scoped(checkpoint_dir: str) -> Column:
    """Predicate for rows stamped by ``checkpoint_dir``'s stream."""
    spellings = {checkpoint_scope(checkpoint_dir), checkpoint_dir}
    return F.col("checkpoint").isin(*sorted(spellings))


class SegmentTable:
    """One persisted table of per-batch segments for one checkpoint scope.

    ``keys`` identify a payload row; ``sums`` are value columns that
    merge by SUM per ``keys``. Without ``sums`` rows are per-key facts,
    merged by union. ``ddl`` (the full schema, ``checkpoint`` and
    ``batch_id`` first) is the schema every read declares, and serves
    :meth:`merged` before the first write; a table without one infers
    its schema from a footer on each read."""

    def __init__(
        self,
        store: TableStore,
        name: str,
        checkpoint_dir: str,
        keys: Sequence[str],
        sums: Sequence[str] = (),
        ddl: str | None = None,
    ) -> None:
        self.store = store
        self.name = name
        self.scope = checkpoint_scope(checkpoint_dir)
        self.owned = scoped(checkpoint_dir)
        self.keys = list(keys)
        self.sums = list(sums)
        self.ddl = ddl

    def stamp(self, part: DataFrame, batch_id: int) -> DataFrame:
        """``part``'s payload keyed as this scope's ``batch_id`` segment."""
        return part.select(
            F.lit(self.scope).alias("checkpoint"),
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            *self.keys,
            *self.sums,
        )

    def without(self, batch_id: int) -> DataFrame | None:
        """Every row except this scope's ``batch_id`` segment (every
        row of this scope for batch 0, which starts the scope over);
        None before the first write."""
        if not self.store.exists(self.name):
            return None
        own = self.owned
        if batch_id:
            own &= F.col("batch_id") == int(batch_id)
        return self.store.read(self.name, self.ddl).filter(~own)

    def write(self, segment: DataFrame, kept: DataFrame | None) -> None:
        """Overwrite the table with ``kept`` (from :meth:`without`) plus
        a stamped ``segment``, through the store's write-temp-swap."""
        self.store.overwrite(
            self.name, segment if kept is None else kept.unionByName(segment)
        )

    def replace(self, batch_id: int, part: DataFrame) -> None:
        """Purge-then-write ``part`` as this scope's ``batch_id`` segment."""
        self.write(self.stamp(part, batch_id), self.without(batch_id))

    def _fold(self, rows: DataFrame) -> DataFrame:
        if not self.sums:
            return rows.select(*self.keys)
        return rows.groupBy(*self.keys).agg(
            *[F.sum(c).cast("long").alias(c) for c in self.sums]
        )

    def merged(self) -> DataFrame:
        """The served state: every segment of every scope folded by the
        merge law (empty before the first write)."""
        return self._fold(self.store.read_or_empty(self.name, self.ddl))

    def compact(self) -> None:
        """Fold this scope's settled segments into ``batch_id = -1``,
        keeping its highest segment and other scopes' rows as they are."""
        if not self.store.exists(self.name):
            return
        cur = self.store.read(self.name, self.ddl)
        mine = cur.filter(self.owned)
        last = mine.agg(F.max("batch_id")).first()[0]
        if last is None:
            return
        folded = self._fold(mine.filter(F.col("batch_id") != last))
        if self.sums:
            # groupBy() with no keys yields one NULL row over zero rows
            folded = folded.filter(F.col(self.sums[0]).isNotNull())
        self.store.overwrite(
            self.name,
            cur.filter(~self.owned)
            .unionByName(self.stamp(folded, -1))
            .unionByName(mine.filter(F.col("batch_id") == last)),
        )


def json_stream(spark: SparkSession, schema: str, source_dir: str) -> DataFrame:
    """A streaming JSON file source over ``source_dir``."""
    return spark.readStream.format("json").schema(schema).load(source_dir)


def drain(
    source: DataFrame,
    on_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """One cron tick: run ``on_batch`` over every pending micro-batch of
    ``source`` (checkpointed at ``checkpoint_dir``), then stop."""
    (
        source.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
