"""Bloom-filter URL dedup — the exact-dedup sibling for short keys.

At 100 TB the dominant dedup cost for SHORT keys (URLs, doc ids,
content hashes) is not comparing values — it's the shuffle that brings
every incoming key together with the seen-key set. A Bloom filter
built over the seen set and broadcast to the scan removes that shuffle
for the overwhelming majority of incoming keys:

* **bloom-negative** ⇒ definitely new (a Bloom filter has NO false
  negatives) — the row never enters the exact join;
* **bloom-positive** ⇒ *probably* seen — only these rows (a few % at
  production fill ratios) pay the exact verification join.

The filter here is built with portable primitives so the DuckDB
oracle replays it bit-for-bit: K_HASH positions per key from md5
(the sketches.py ``_h60`` idiom), the set-bit positions aggregated to
ONE array row (≤ M_BITS elements) and broadcast — the same allowlisted
1-row scalar pattern as kmv/tf_idf. Spark's native
``bloom_filter_agg``/``might_contain`` pair is the drop-in production
variant; the md5 construction is chosen for oracle replayability, not
because the plumbing differs.

Scale notes: M_BITS sizes per the standard m ≈ −n·ln(p)/ln(2)² rule
(10 bits/key ⇒ p≈1%). One broadcast array holds ~10⁸ set bits
comfortably (int64 positions of a 1 Gbit filter ≈ the filter itself);
beyond that, partition the key space (bucket by ``hash(url) % B``) and
build B independent filters — each executor probes only its bucket's
filter, which is exactly how Spark's own runtime bloom pruning shards.
The demo sizing (M_BITS=1024) is deliberately tight so the
false-positive class is exercised at test scale.

URLs are synthesized from documents (the corpus carries no URL
column): ``https://example.com/p/<md5(doc_id) mod 941>`` — the
hash-derived page id folds distinct docs onto shared URLs so real
duplicates exist AT EVERY SCALE FACTOR. (A residue fold like
``doc_id % 67`` composed with the corpus's deterministic
``source(doc_id)`` made the URL determine ``doc_id mod 1340`` — zero
duplicates at sf0.01, 100% at sf0.1; the md5 fold has no residue
structure to correlate with the seen/incoming split.) The "seen" set
is doc_id % 3 != 0 (history), "incoming" is doc_id % 3 = 0 (today's
crawl).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import query

#: filter width in bits — tight on purpose (see module docstring).
M_BITS = 1024
#: hash functions per key.
K_HASH = 3
#: URL-space size: md5(doc_id) mod this shares URLs between docs —
#: sized so dup/new/false_positive are ALL populated at sf0.01
#: (≈30% dup) and sf0.1 (≈97% dup, Bloom near-saturated — the
#: demo's deliberate under-sizing, see module docstring).
URL_MOD = 941

#: synthesized URL (both engines build the identical string).
_URL_SQL = (
    "'https://example.com/p/' || CAST("
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)"
    f" % {URL_MOD} AS VARCHAR)"
)


def _url_col() -> Column:
    page = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 7),
            16,
            10,
        ).cast("long")
        % URL_MOD
    )
    return F.concat(F.lit("https://example.com/p/"), page.cast("string"))


def _bit(url: Column, j: int) -> Column:
    """Bloom bit position j of a url: 28 md5 bits mod M_BITS —
    identical in Spark (conv base-16) and DuckDB ('0x' cast)."""
    h = F.md5(F.concat(url, F.lit(f":{j}")).cast("binary"))
    return F.conv(F.substring(h, 1, 7), 16, 10).cast("long") % M_BITS


def _sql_bit(url: str, j: str) -> str:
    return (
        f"CAST('0x' || substr(md5({url} || ':' || {j}), 1, 7) AS BIGINT)"
        f" % {M_BITS}"
    )


#: persisted-filter table name (the fourth persistent-state family,
#: beside IVF/PQ codebooks, the MinHash band index and the streaming
#: checkpoint: build once, serve from any later session).
BLOOM_BITS_TABLE = "_bloom_url_bits"


def bloom_bits(urls: DataFrame) -> DataFrame:
    """Distinct set-bit positions of the filter over a ``url`` frame —
    the filter's MERGEABLE representation. Bit positions are a
    deterministic function of the key alone, so the filter over a
    union of key sets is EXACTLY the union of the per-set bit frames:
    ``bloom_bits(A ∪ B) == distinct(bloom_bits(A) ∪ bloom_bits(B))``.
    Daily ingest therefore just APPENDS the new batch's bits (no
    read-modify-write of a monolithic bitmap), distributed builders
    union partial frames, and ``probe``'s distinct-on-read collapses
    the overlap — the same artifacts-as-tables cadence as the MinHash
    band index (pytest: cross-session e2e + merge==rebuild)."""
    return urls.select(
        F.explode(
            F.array(*[_bit(F.col("url"), j) for j in range(K_HASH)])
        ).alias("bit")
    ).distinct()


def ingest_bloom_bits(store, urls: DataFrame) -> None:
    """Append one batch's bits to the persisted filter (a
    :class:`~...sources.table_store.TableStore` table). A crash-replay
    needs no guard: a duplicate append is HARMLESS for probing (union
    of identical bits) — the filter can only over-approximate, never
    lose a key."""
    store.append(BLOOM_BITS_TABLE, bloom_bits(urls))


def probe_bloom(incoming: DataFrame, bits: DataFrame) -> DataFrame:
    """Add a ``hit`` column to an incoming ``url`` frame: True iff all
    K_HASH positions are set in ``bits`` (possibly the persisted,
    multi-day appended frame — distinct'd here before the one-row
    collapse + broadcast)."""
    bits_row = bits.select("bit").distinct().agg(
        F.collect_set("bit").alias("bits")
    )
    probe_positions = F.array(*[_bit(F.col("url"), j) for j in range(K_HASH)])
    return incoming.crossJoin(F.broadcast(bits_row)).select(
        *incoming.columns,
        F.forall(
            probe_positions, lambda p: F.array_contains(F.col("bits"), p)
        ).alias("hit"),
    )


#: shared oracle CTEs (url synthesis, seen/incoming split, filter bits,
#: probe) + the per-doc classification — bloom_fp_audit re-aggregates
#: the same construction, so the two oracles cannot desynchronize.
_BLOOM_CTES = f"""
    WITH d AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    seen AS (SELECT url FROM d WHERE doc_id % 3 <> 0),
    inc AS (SELECT doc_id, url FROM d WHERE doc_id % 3 = 0),
    bits AS (
        SELECT DISTINCT {_sql_bit('s.url', 'CAST(t.j AS VARCHAR)')} AS bit
        FROM seen s CROSS JOIN (SELECT unnest(range({K_HASH})) AS j) t
    ),
    probe AS (
        SELECT i.doc_id, i.url,
               COUNT(b.bit) = {K_HASH} AS hit
        FROM inc i
        CROSS JOIN (SELECT unnest(range({K_HASH})) AS j) t
        LEFT JOIN bits b
          ON b.bit = {_sql_bit('i.url', 'CAST(t.j AS VARCHAR)')}
        GROUP BY i.doc_id, i.url
    ),
    classified AS (
        SELECT p.doc_id, p.url,
               CAST(CASE WHEN p.hit THEN 1 ELSE 0 END AS INT) AS bloom_hit,
               CASE WHEN NOT p.hit THEN 'new'
                    WHEN s.url IS NOT NULL THEN 'dup'
                    ELSE 'false_positive' END AS verdict
        FROM probe p
        LEFT JOIN (SELECT DISTINCT url FROM seen) s ON p.url = s.url
    )
"""


@query(
    "bloom_url_dedup",
    oracle=f"""
    {_BLOOM_CTES}
    SELECT doc_id, url, bloom_hit, verdict FROM classified
    """,
)
def bloom_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every incoming URL as ``new`` (bloom-negative — never
    joined), ``dup`` or ``false_positive`` (bloom-positive, split by
    the exact join that only the positives pay for).

    Plan shape: the filter is ONE array row (collect_set of ≤ M_BITS
    bit positions) broadcast to the incoming scan; probing is a
    codegen'd ``forall`` over K_HASH array lookups — no shuffle of the
    incoming side to decide 'new'. The exact-verify join's left side
    is pre-filtered to bloom-positives, so its shuffle moves only the
    suspected-duplicate sliver; at a production 1% false-positive rate
    that is (dup_rate + 1%) of the corpus instead of all of it. The
    union's two branches each re-derive ``probed`` (two incoming
    scans) — the deliberate alternative to a single-pass outer join,
    which would drag every bloom-NEGATIVE row through the join's
    shuffle at scale; a production pipeline persists ``probed`` once
    instead of re-scanning.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _url_col().alias("url")
    )
    seen = d.filter(F.col("doc_id") % 3 != 0).select("url")
    inc = d.filter(F.col("doc_id") % 3 == 0)

    probed = probe_bloom(inc, bloom_bits(seen))

    negatives = probed.filter(~F.col("hit")).select(
        "doc_id", "url", F.lit(0).alias("bloom_hit"), F.lit("new").alias("verdict")
    )
    seen_urls = seen.distinct().withColumn("is_seen", F.lit(True))
    positives = (
        probed.filter(F.col("hit"))
        .join(seen_urls, "url", "left")
        .select(
            "doc_id",
            "url",
            F.lit(1).alias("bloom_hit"),
            F.when(F.col("is_seen").isNotNull(), F.lit("dup"))
            .otherwise(F.lit("false_positive"))
            .alias("verdict"),
        )
    )
    return negatives.unionByName(positives)


@query(
    "bloom_fp_audit",
    oracle=f"""
    {_BLOOM_CTES},
    counts AS (
        SELECT
            CAST(SUM(CASE WHEN verdict = 'new' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_new,
            CAST(SUM(CASE WHEN verdict = 'dup' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dup,
            CAST(SUM(CASE WHEN verdict = 'false_positive' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_fp
        FROM classified
    ),
    fill AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bits_set FROM bits)
    SELECT c.n_new, c.n_dup, c.n_fp, f.n_bits_set,
           CAST((1000000 * c.n_fp) // greatest(c.n_fp + c.n_new, 1)
                AS BIGINT) AS fp_obs_micro,
           CAST((1000000 * f.n_bits_set * f.n_bits_set * f.n_bits_set)
                // ({M_BITS}::BIGINT * {M_BITS} * {M_BITS})
                AS BIGINT) AS fp_pred_micro
    FROM counts c, fill f
    """,
)
def bloom_fp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: the filter's OBSERVED false-positive rate
    (fp / (fp + new) — the absent keys that bloom-hit anyway) beside
    its ANALYTIC rate under the realized fill, (n_bits_set / M_BITS)^
    {K_HASH} — the exact hit probability of a uniformly-hashed absent
    key given the actual bit set (the e^(-kn/m) textbook form is the
    expectation of this over random builds). Both in integer micro
    units (floor-divided — n_bits_set³ ≤ 2³⁰, no overflow), so the
    comparison is hash-exact across engines. The gap between the two
    columns is the sizing dashboard: observed ≫ predicted means the
    hash positions correlate with the key distribution; observed
    tracking predicted while both are too high means M_BITS is
    undersized for the key volume (this demo's deliberate state —
    see the module docstring's sizing rule).

    Plan shape: one pass over the classified output (conditional
    sums), one bit count, both 1-row scalars (the allowlisted
    kmv/tf_idf class) joined by a constant-true broadcast."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _url_col().alias("url")
    )
    seen = d.filter(F.col("doc_id") % 3 != 0).select("url")
    counts = bloom_url_dedup(spark, sf_dir).agg(
        F.sum(F.when(F.col("verdict") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("verdict") == "dup", 1).otherwise(0))
        .cast("long")
        .alias("n_dup"),
        F.sum(F.when(F.col("verdict") == "false_positive", 1).otherwise(0))
        .cast("long")
        .alias("n_fp"),
    )
    fill = bloom_bits(seen).agg(F.count("*").cast("long").alias("n_bits_set"))
    m3 = M_BITS * M_BITS * M_BITS
    return counts.crossJoin(F.broadcast(fill)).select(
        "n_new",
        "n_dup",
        "n_fp",
        "n_bits_set",
        F.expr("(1000000 * n_fp) div greatest(n_fp + n_new, 1)")
        .cast("long")
        .alias("fp_obs_micro"),
        F.expr(
            f"(1000000 * n_bits_set * n_bits_set * n_bits_set) div {m3}"
        )
        .cast("long")
        .alias("fp_pred_micro"),
    )
