"""Test-table catalog.

The driver-generated TPC-H-ish tables (TESTDATA.md) are the engine's standing
test corpus. ``load_table``/``register_views`` read them as parquet and expose
them as temp views so operators can be written against either the DataFrame
or SQL API.

The reference's analogue is its target-schema introspection of
``information_schema.columns`` (reference file_loader.py:45-58); here the
catalog IS Spark's catalog — ``spark.table(name).schema`` replaces the
round-trip to PostgreSQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: tables below this size are broadcast-side dimensions — rebalancing
#: them only adds an exchange in front of a broadcast build
#: (OPTIMIZATION_r12.md)
_REBALANCE_MIN_BYTES = 64 * 1024


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _parse_size(s: str) -> int:
    """'128m'/'134217728b'/'1g' → bytes (SparkConf size-string subset)."""
    s = s.strip().lower()
    mult = 1
    for suf, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3), ("t", 1024**4)):
        if s.endswith(suf + "b"):
            s, mult = s[: -len(suf) - 1], m
            break
        if s.endswith(suf):
            s, mult = s[:-1], m
            break
    else:
        if s.endswith("b"):
            s = s[:-1]
    return int(float(s) * mult)


def _path_layout(
    path: str, max_files: int | None = None, max_bytes: int | None = None
) -> tuple[int, list[str]]:
    """(total data bytes, data file paths) under ``path``.

    The walk SHORT-CIRCUITS once either threshold is crossed: the caller
    only needs to know whether the layout reaches its decision points
    (enough files / enough bytes for a no-op), so a huge local table dir
    costs O(cores) stat calls, not a full-tree walk (VERDICT r12 item 8).
    Returned totals are then partial — valid only as "≥ threshold"."""
    if os.path.isfile(path):
        return os.path.getsize(path), [path]
    total = 0
    paths: list[str] = []
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(root, f)
                try:
                    total += os.path.getsize(p)
                except OSError:
                    continue
                paths.append(p)
                if (max_files is not None and len(paths) >= max_files) or (
                    max_bytes is not None and total >= max_bytes
                ):
                    return total, paths
    return total, paths


def _row_group_units(files: list[str], cap: int) -> int:
    """Row groups across ``files``, counting stops once ``cap`` reached.

    Parquet scan parallelism is capped by row-group count (a byte-range
    split with no row-group start yields zero rows), so THIS — not file
    count or bytes — is the real ceiling on scan-stage tasks. Footer
    reads are ~ms each and at most ``cap`` files are touched.
    """
    import pyarrow.parquet as pq

    units = 0
    for p in files:
        try:
            units += pq.ParquetFile(p).metadata.num_row_groups
        except Exception:
            units += 1  # unreadable footer: assume one unit
        if units >= cap:
            break
    return units


def _rebalance_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Spread a scan that cannot fill the cluster on its own.

    Parquet assigns each ROW GROUP to one task, so a table written as
    few large row groups (the test corpus: one row group per file) caps
    scan-stage parallelism at the file count no matter how many cores
    exist — every pre-shuffle map cost (hashing, tokenization, shingle
    explosion, vector arithmetic) then runs serially. When the scan's
    natural split count (bytes / maxPartitionBytes) cannot reach the
    cluster's parallelism AND the table is small enough that one extra
    exchange of it is trivial, round-robin it across the cores.

    Scale behavior: at warehouse scale natural splits >> cores, so this
    is a no-op — the rule derives from input size (guide §2), it is not
    a local[32] constant. Predicate pushdown and column pruning both
    travel through the Repartition node (plan-tested), so the exchange
    carries only pruned columns.

    Parallelism is estimated from the layout, cheapest signal first:
    enough byte-range splits (huge files) → no-op without touching
    footers; enough data files (Spark shrinks split size to fill
    ``defaultParallelism`` when files allow — maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism))) →
    no-op; otherwise count ROW GROUPS, the true task ceiling for a
    parquet scan, and rebalance only when they cannot fill the cores.
    """
    cores = spark.sparkContext.defaultParallelism
    try:
        maxpb = _parse_size(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
    except ValueError:
        maxpb = 128 * 1024 * 1024
    try:
        # short-circuited walk: stops at `cores` files or enough bytes
        # for `cores` byte-range splits — either already decides no-op,
        # so the probe is O(cores), never a full walk of a huge dir
        nbytes, files = _path_layout(
            path, max_files=cores, max_bytes=(cores - 1) * maxpb
        )
    except OSError:
        return df
    if nbytes < _REBALANCE_MIN_BYTES:
        return df
    if nbytes // maxpb + 1 >= cores:
        return df
    if len(files) >= cores:
        return df
    if _row_group_units(files, cores) >= cores:
        return df
    return df.repartition(cores)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one test table. Parquet scan → Catalyst gets pushdown + pruning.

    ``spread=True`` opts the read into :func:`_rebalance_scan` — for
    operators whose map-side work (shingling, vector math, multi-column
    Expand) dominates the scan. It is opt-in because the exchange is a
    measured ~0.2-0.6 s fixed tax per query at test scale: applied
    globally it doubled every cheap scan→agg query (A/B matrix in
    OPTIMIZATION_r12.md) while only compute-dense queries won it back.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; ``get_spark`` sets
    ``spark.sql.legacy.parquet.nanosAsLong`` session-wide, so it arrives as
    long nanos and is truncated here to microsecond timestamps (identical
    to DuckDB's ns→µs conversion, so the oracle sees the same values).
    Integer ``div`` — double math would lose precision at ~1.7e18 ns.
    """
    if name not in TABLES:
        raise KeyError(f"unknown test table {name!r}; known: {TABLES}")
    if name == "events":
        # get_spark sets this session-wide; guard for foreign sessions
        # (e.g. the correctness driver builds its own SparkSession).
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_type == "timestamp_ntz":
            # Spark 4.1 ignores a RUNTIME nanosAsLong set (builder-time
            # works) and reads TIMESTAMP(NANOS) as µs-truncated NTZ.
            # Rebuild the same LTZ instant DuckDB sees (naive ≙ UTC)
            # without going through the session timezone: µs since the
            # NTZ epoch → timestamp_micros. A plain cast(ntz AS
            # timestamp) would shift by the session tz offset.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr(
                        "timestampdiff(MICROSECOND,"
                        " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                    )
                ),
            )
        if spread:
            df = _rebalance_scan(spark, df, table_path(sf_dir, name))
        return df
    df = spark.read.parquet(table_path(sf_dir, name))
    if spread:
        df = _rebalance_scan(spark, df, table_path(sf_dir, name))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every test table as a temp view; returns name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
