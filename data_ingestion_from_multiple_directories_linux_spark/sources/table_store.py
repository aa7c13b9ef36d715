"""Parquet-backed table store with atomic overwrite.

The reference keeps all mutable state in PostgreSQL tables updated in-place
(sync_file, file_ingestion_log, stg_* …; SURVEY.md §2.10). On immutable
object storage the engine expresses DELETE (a retry's staging purge,
migrated-record deletion) as read-modify-write with a write-temp-swap so
readers never observe a half-written table (SURVEY.md §7 "mutable state
on immutable storage"). An UPDATE of a file's status is an appended
attempt row instead: readers take each file's latest attempt, so only
compaction ever rewrites the ingestion log.

Append-only tables use plain parquet appends: a Spark write job for
distributed frames (staging), and :meth:`TableStore.append_rows` for the
few rows the driver already holds (audit and in-flight rows) — one
parquet file renamed in, no Spark job. At cluster scale the same
interface maps 1:1 onto a table format with real transactions (Delta /
Iceberg MERGE); the swap trick is the dependency-free fallback.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Collection, Mapping, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


class TableStore:
    """Directory-of-parquet-tables with append / atomic-overwrite / read."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.isdir(self.path(name))

    def read(
        self,
        name: str,
        schema: str | T.StructType | None = None,
        partitions: Sequence[str] = (),
    ) -> DataFrame:
        """Read a table. A declared ``schema`` (DDL or struct) skips the
        footer-inference job. ``partitions`` (leaf dir paths relative to
        the table, as listed) reads only those dirs; ``basePath`` keeps
        their partition columns.

        Without a declared schema a partitioned table merges every
        footer's schema (``mergeSchema``; still one inference job): a
        later batch may land a column in another partition only. Hive
        partition values come back as the strings they were written
        from: type inference would read ``stg_datim_id=007`` as the
        integer 7, so an inferred non-string partition column is
        re-read declared ``string`` (no second inference job)."""
        if not self.exists(name):
            raise FileNotFoundError(f"table {name!r} not found under {self.root}")
        live = self.path(name)
        paths = [os.path.join(live, p) for p in partitions] or [live]
        reader = self.spark.read.option("basePath", live)
        if schema is not None:
            return reader.schema(schema).parquet(*paths)
        parts = self.partition_columns(name)
        if parts:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*paths)
        if any(f.name in parts and f.dataType != T.StringType() for f in df.schema):
            typed = T.StructType(
                [T.StructField(f.name, T.StringType()) if f.name in parts else f
                 for f in df.schema]
            )
            df = reader.schema(typed).parquet(*paths)
        return df

    def read_or_empty(self, name: str, schema: str) -> DataFrame:
        """Read with the given DDL schema (no footer-inference job), or
        produce an empty frame of it — lets first-run logic treat missing
        audit tables as zero rows."""
        if self.exists(name):
            return self.read(name, schema)
        return self.spark.createDataFrame([], schema)

    def append_rows(
        self, name: str, rows: Sequence[Sequence | Mapping], ddl: str
    ) -> str | None:
        """Append rows the driver already holds — tuples in ``ddl``
        column order, or dicts keyed by column name — as ONE parquet
        file written from the driver with pyarrow: no Spark job.

        The Arrow schema is pyspark's own mapping of ``ddl``
        (``to_arrow_schema``), and each value goes through its Spark
        type's ``toInternal`` first, so naive datetimes are read as
        local time and stored as UTC exactly as ``createDataFrame``
        stores them. The file is written under a hidden temp name that
        does not end in ``.parquet`` (no reader or file count sees it),
        then renamed in; a new table is written as a ``.{name}.tmp-*``
        dir renamed into place, so a crash never leaves an empty,
        unreadable table dir (:meth:`repair` clears the residue).
        Returns the path of the file written (None for no rows), so a
        caller can take back rows it stored only for a while."""
        if not rows:
            return None
        schema = T.StructType.fromDDL(ddl)
        arrow = to_arrow_schema(schema)
        arrays = []
        for i, (f, t) in enumerate(zip(schema.fields, arrow)):
            col = [r[f.name] if isinstance(r, Mapping) else r[i] for r in rows]
            if f.dataType.needConversion():
                col = [f.dataType.toInternal(v) for v in col]
            arrays.append(pa.array(col, type=t.type))
        table = pa.Table.from_arrays(arrays, schema=arrow)
        part = uuid.uuid4().hex
        data = f"part-00000-{part}-c000.snappy.parquet"
        live = self.path(name)
        if self.exists(name):
            tmp = os.path.join(live, f".part-{part}.tmp")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(live, data))
        else:
            tmp = self.path(f".{name}.tmp-{part}")
            os.makedirs(tmp)
            pq.write_table(table, os.path.join(tmp, data))
            os.rename(tmp, live)
        return os.path.join(live, data)

    def append(
        self,
        name: str,
        df: DataFrame | None,
        partition_by: tuple[str, ...] = (),
        replace: Collection[str] = (),
    ) -> None:
        """Append ``df`` (a plain Spark append).

        ``replace`` names live leaf partitions (relative dir paths, as
        listed) whose rows ``df`` carries in full — the rows to keep
        plus the new ones. Then ``df`` is written ONCE into scratch:
        each replaced partition is swapped for ``df``'s rows of it
        (parked and removed when ``df`` has none; ``df=None`` means no
        rows at all), and ``df``'s other partitions take its files as an
        append. A table left with no partition is dropped.

        The swap is atomic per partition, not per call: a reader racing
        it may see some partitions old and some new, never a half-written
        one. Each replaced partition is parked under its relative path
        in a ``.{name}.dpo-old-*`` dir before the new one is moved in,
        so :meth:`repair` restores a partition a crash left missing."""
        if not replace:
            w = df.write.mode("append")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self.path(name))
            return
        tmp = self.path(f".{name}.dpo-{uuid.uuid4().hex}")
        if df is not None:
            df.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
        self._swap_in(name, tmp, len(partition_by), set(replace))

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        flatten: bool = False,
    ) -> None:
        """Write-temp-swap: materialize to a scratch dir, then atomically
        replace the live dir. df may be derived FROM the live table (the
        read-modify-write pattern), which plain mode('overwrite') to the
        same path would corrupt — Spark would delete its own input.

        ``flatten=True`` (with ``partition_by``) uses the partition
        columns only to SPLIT files — one file per partition value —
        then hoists the leaf files to the table root before the swap,
        so the partition columns never enter the table's visible schema
        (hive layout stores them in directory names, not in the parquet
        data files). Layout-maintenance jobs use this to control
        file-to-value assignment exactly (zorder_table's rectangle
        grid) without leaving an internal column behind in reads,
        appends, or later compactions (review finding)."""
        tmp = self.path(f".{name}.tmp-{uuid.uuid4().hex}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        if partition_by and flatten:
            n = 0
            for dirpath, _dirs, files in os.walk(tmp):
                if dirpath == tmp:
                    continue
                for f in files:
                    if f.endswith(".parquet"):
                        os.rename(
                            os.path.join(dirpath, f),
                            os.path.join(tmp, f"f{n:05d}-{f}"),
                        )
                        n += 1
            for d in os.listdir(tmp):
                p = os.path.join(tmp, d)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
        live = self.path(name)
        trash = self.path(f".{name}.old-{uuid.uuid4().hex}")
        if os.path.isdir(live):
            os.rename(live, trash)
        os.rename(tmp, live)
        if os.path.isdir(trash):
            shutil.rmtree(trash, ignore_errors=True)

    def drop(self, name: str) -> None:
        if self.exists(name):
            shutil.rmtree(self.path(name))

    def list_tables(self, pattern: str | None = None) -> list[str]:
        """Catalog table-list scan (reference
        stg_records_deletion_process.py:31-50: name-pattern + IN-list over
        information_schema)."""
        import re

        names = [
            d
            for d in sorted(os.listdir(self.root))
            if os.path.isdir(os.path.join(self.root, d)) and not d.startswith(".")
        ]
        if pattern:
            names = [n for n in names if re.search(pattern, n)]
        return names

    def table_sizes(self, top_n: int = 100) -> list[tuple[str, int]]:
        """Table-size introspection (reference table_sizes.sql:1-11:
        pg_total_relation_size top-100) — filesystem stats per table dir."""
        out = []
        for name in self.list_tables():
            total = 0
            for dirpath, _dirnames, filenames in os.walk(self.path(name)):
                for f in filenames:
                    total += os.path.getsize(os.path.join(dirpath, f))
            out.append((name, total))
        out.sort(key=lambda kv: (-kv[1], kv[0]))
        return out[:top_n]

    def _swap_in(self, name: str, tmp: str, depth: int, replace: set[str]) -> None:
        """Move the leaf partitions written under ``tmp`` into the live
        table. A leaf in ``replace`` is swapped — the live copy is
        parked under ``.{name}.dpo-old-*`` first, and stays gone when
        ``tmp`` has no rows for it; any other leaf's files join the
        live leaf (an append)."""
        live = self.path(name)
        written = (
            {os.path.join(*parts): src for parts, src in self._leaf_partitions(tmp, depth)}
            if os.path.isdir(tmp)
            else {}
        )
        trash = self.path(f".{name}.dpo-old-{uuid.uuid4().hex}")
        for rel in sorted(replace | set(written)):
            dst = os.path.join(live, rel)
            if rel in replace and os.path.isdir(dst):
                parked = os.path.join(trash, rel)
                os.makedirs(os.path.dirname(parked), exist_ok=True)
                os.rename(dst, parked)
            src = written.get(rel)
            if src is None:
                continue
            if os.path.isdir(dst):
                for f in os.listdir(src):
                    os.rename(os.path.join(src, f), os.path.join(dst, f))
            else:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
        shutil.rmtree(trash, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.isdir(live) and not any(self._leaf_partitions(live, depth)):
            # an empty parquet dir is unreadable (no footer)
            self.drop(name)

    def repair(self, name: str) -> dict[str, list[str]]:
        """Crash-recovery scan for ``append(replace=)`` AND
        :meth:`overwrite` residue — run at startup, like a table format's
        orphan-file cleanup.

        Two restore rules, applied NEWEST trash first (mtime order —
        when two crashed calls both parked a copy, the later call's
        parked data is the one the last committed state held):

        * ``.{name}.old-*`` (a full-table :meth:`overwrite` crashed
          between "live → trash" and "tmp → live"): if the live dir is
          MISSING entirely, the newest parked table is moved back
          whole — without this the only surviving committed copy would
          be deleted as residue.
        * ``.{name}.dpo-old-*`` (partition swap): any partition parked
          under its relative path whose live counterpart is missing is
          restored; parked partitions whose live copy exists are
          dropped (the swap completed).

        Then all remaining residue — ``.dpo-*`` scratch, ``.tmp-*``
        uncommitted writer output, older parked copies — is removed.
        Returns ``{"restored": [...relpaths], "removed":
        [...dirnames]}`` ('.' marks a whole-table restore)."""
        live = self.path(name)
        restored: list[str] = []
        removed: list[str] = []
        residue = [
            d
            for d in os.listdir(self.root)
            if d.startswith(f".{name}.")
            and os.path.isdir(os.path.join(self.root, d))
        ]
        # newest first: restores prefer the most recent parked copy
        residue.sort(
            key=lambda d: os.path.getmtime(os.path.join(self.root, d)),
            reverse=True,
        )
        for d in residue:
            p = os.path.join(self.root, d)
            if d.startswith(f".{name}.old-") and not os.path.isdir(live):
                os.rename(p, live)
                restored.append(".")
                removed.append(d)
                continue
            if d.startswith(f".{name}.dpo-old-"):
                for dirpath, _dirs, files in os.walk(p):
                    if not files:
                        continue
                    rel = os.path.relpath(dirpath, p)
                    dst = os.path.join(live, rel)
                    if not os.path.isdir(dst):
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        os.rename(dirpath, dst)
                        restored.append(rel)
            shutil.rmtree(p, ignore_errors=True)
            removed.append(d)
        return {"restored": sorted(restored), "removed": removed}

    def partition_columns(self, name: str) -> tuple[str, ...]:
        """The hive partition columns of a table, inferred from its
        directory layout (``key=value`` nesting) — pure metadata. Empty
        tuple for flat tables. Lets maintenance sweeps preserve a
        table's partitioning without the caller re-stating it."""
        cols: list[str] = []
        d = self.path(name)
        while True:
            subs = [
                e
                for e in sorted(os.listdir(d))
                if "=" in e and os.path.isdir(os.path.join(d, e))
            ]
            if not subs:
                return tuple(cols)
            cols.append(subs[0].split("=", 1)[0])
            d = os.path.join(d, subs[0])

    @staticmethod
    def _leaf_partitions(root: str, depth: int):
        """Yield (key=value path components, abs dir) for every leaf
        partition directory exactly ``depth`` levels below root."""
        def walk(d: str, parts: list[str]):
            if len(parts) == depth:
                yield parts, d
                return
            for entry in sorted(os.listdir(d)):
                sub = os.path.join(d, entry)
                if os.path.isdir(sub) and "=" in entry:
                    yield from walk(sub, parts + [entry])

        yield from walk(root, [])
