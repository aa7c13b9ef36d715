"""JSON multi-directory file source (SURVEY.md §2.1 S1/S2/S8, §1.1).

Upload layout (reference file_loader.py:264-265; FIXTURES.md B1):
``<root>/<facility_id>/<table>_<batch>_<yyyymmddHHMMSS>[_decrypted].json``
where each file is one JSON array of records for one staging table.

Discovery is driver-side metadata listing (exactly what Spark's own file
index does); the data read is a single distributed ``spark.read.json`` per
target table over all of that table's files, so one Spark job replaces the
reference's file-at-a-time pandas loop. Lineage (file/facility/batch) is
recovered inside the scan projection from ``input_file_name()``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.naming import derive_batch_id, derive_table_name
from .schemas import schema_for_table

CORRUPT_COL = "_corrupt_record"


@dataclass(frozen=True)
class FileMeta:
    """One discovered upload file (≙ a sync_file row, FIXTURES.md B2)."""

    path: str
    file_name: str
    facility_id: str
    table_name: str
    batch_id: str
    #: filesystem mtime (epoch seconds) — the retry-bound signal: a
    #: failed file is only re-selected once it has been modified after
    #: the failing attempt (≙ sync_file.modified_date)
    mtime: float = 0.0


def discover_files(root: str) -> list[FileMeta]:
    """List ``<root>/<facility>/*.json`` (reference S8 existence probe,
    file_loader.py:269-278 — here missing files simply never list)."""
    out: list[FileMeta] = []
    if not os.path.isdir(root):
        return out
    for fac in sorted(os.listdir(root)):
        fac_dir = os.path.join(root, fac)
        if not os.path.isdir(fac_dir):
            continue
        for fn in sorted(os.listdir(fac_dir)):
            if not fn.endswith(".json"):
                continue
            path = os.path.join(fac_dir, fn)
            try:
                mtime = os.stat(path).st_mtime
            except OSError:
                mtime = 0.0
            out.append(
                FileMeta(
                    path=path,
                    file_name=fn,
                    facility_id=fac,
                    table_name=derive_table_name(fn),
                    batch_id=derive_batch_id(fn),
                    mtime=mtime,
                )
            )
    return out


def permissive_schema(table: str) -> T.StructType | None:
    """``table``'s registered schema plus the ``_corrupt_record`` column
    PERMISSIVE mode fills for a malformed file (None if unregistered)."""
    schema = schema_for_table(table)
    if schema is None:
        return None
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )


def json_reader(reader, schema: T.StructType | None):
    """The one JSON read configuration, for ``spark.read`` and
    ``spark.readStream`` alike.

    multiLine=true: each file is a JSON *array* (reference
    ``pd.read_json`` file_loader.py:588). With a registered target schema
    (:func:`permissive_schema`) the read is schema-targeted (no inference
    pass) and PERMISSIVE mode captures malformed files in
    ``_corrupt_record`` instead of failing the job — per-file error
    classification (G8) happens downstream. Extra JSON fields are
    dropped, missing ones are NULL — the reference's tolerant
    extra/missing-column policy (SURVEY.md §7)."""
    reader = reader.format("json").option("multiLine", "true")
    if schema is None:
        return reader
    return (
        reader.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )


def read_table_files(
    spark: SparkSession, table: str, paths: list[str]
) -> DataFrame:
    """One distributed read of every file destined for ``table``
    (:func:`json_reader`), with ``_src_file`` (bare filename) and
    ``_src_facility`` from ``input_file_name()`` for per-file audit +
    lineage."""
    df = json_reader(spark.read, permissive_schema(table)).load(paths)
    if CORRUPT_COL not in df.columns:
        df = df.withColumn(CORRUPT_COL, F.lit(None).cast("string"))
    return with_source_lineage(df)


def with_source_lineage(df: DataFrame) -> DataFrame:
    """Append ``_src_file`` / ``_src_facility`` decoded back to the RAW
    filesystem names. ``input_file_name()`` returns the file URI, which
    percent-encodes spaces and non-ASCII characters — left encoded, the
    lineage keys would not match driver-side file metadata (discovery,
    purge-on-retry, audit joins), mis-auditing any file whose name
    needs encoding and duplicating its rows on retry (decode details:
    :func:`..functions.naming.decode_uri_name`)."""
    from ..functions.naming import facility_of, file_name_of

    return df.withColumn("_src_file", file_name_of()).withColumn(
        "_src_facility", facility_of()
    )
