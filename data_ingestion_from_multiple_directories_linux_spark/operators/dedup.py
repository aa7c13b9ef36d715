"""Near-duplicate detection over ``documents`` (LLM-pipeline operators).

Two scalable near-dup designs, both avoiding any all-pairs join:

* **MinHash + banded LSH** — shingle → 64-hash MinHash signature → 32
  bands × 2 rows → candidate pairs only within band buckets → exact
  Jaccard verification of candidates. The banded join touches only
  colliding documents; with r=2/b=32 the probability of missing a pair
  with Jaccard >= 0.7 is (1-0.49)^32 ~= 4e-10, so the output equals the
  exact all-pairs answer (which is what the DuckDB oracle computes
  ground-truth-style via an inverted index).
* **n-gram Jaccard via inverted index** — explode distinct 4-gram
  shingles, self-join on the shingle (documents sharing at least one),
  count intersections per pair, filter by Jaccard. The join key is the
  shingle, so only documents sharing content ever meet. Shingle width is
  the selectivity lever: the test corpus draws from a ~30-word
  vocabulary, so bigrams are stop-shingles (every document collides with
  every other — measured 48s at sf0.1) while 4-grams are selective; at
  100 TB the same role is played by a document-frequency cap that drops
  shingles with df > ~10k before the join — standard inverted-index
  pruning.

The corpus has no near-duplicates by construction, so both queries first
synthesize them deterministically (doc_id % 7 == 0 → a copy at
doc_id + 10000 with 4 tokens appended); Spark plan and DuckDB oracle
build the same corpus.
"""

from __future__ import annotations

import logging
import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from ..catalog import load_table
from ..functions.text import band_buckets, minhash_signature_aggs, shingles, tokens
from .registry import query
from .text_analysis import TOK_SQL

#: near-dup corpus: every 7th doc gets a mutated copy (4 appended tokens)
NEAR_DUP_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id, text || ' zz yy xx qq' AS text
    FROM documents WHERE doc_id % 7 = 0
"""

JACCARD_MINHASH_THRESHOLD = 0.7
JACCARD_NGRAM_THRESHOLD = 0.6


def _near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mut = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy xx qq")).alias("text"),
    )
    return d.unionByName(mut)


def _shingle_sets(corpus: DataFrame, n: int, pin_width: bool = False) -> DataFrame:
    """(doc_id, sh: array<string> distinct shingles, n_sh) — docs shorter
    than n tokens have no shingles and drop out (same WHERE in oracle).

    The corpus is hash-repartitioned on doc_id first: the test parquet is
    one small file → one input partition, and shingling is the expensive
    per-row expression (higher-order functions are interpreted, not
    codegen'd) — without the repartition the whole pass runs on a single
    core (measured 15s vs <1s at sf0.1). At 100 TB the scan has thousands
    of partitions and this is a cheap narrow re-balance.

    ``pin_width=True`` gives that exchange an explicit partition count
    (cluster parallelism), which AQE never coalesces — for callers that
    PERSIST the result and then run heavy per-shingle compute in the map
    stage reading the cache: with cached-plan re-planning on (session.py)
    a kilobyte-scale cached frame otherwise materializes at a handful of
    partitions and the consumer's CPU work serializes. Same exchange,
    same bytes, just a pinned width — callers whose downstream is
    shuffle-bound rather than map-CPU-bound keep the coalescible default.

    Scale trade-off (ADVICE r12): the pinned count is defaultParallelism,
    which at warehouse scale is far below the scan's partition count — a
    pinned caller would funnel a multi-thousand-partition corpus down to
    #cores. That is the correct width for the CACHED frame this flag
    exists for (the persisted shingle sets are kilobytes per partition;
    the pin fights AQE coalescing, not scan width), but a caller whose
    corpus is genuinely large should keep the coalescible default —
    AQE then holds the scan's own width. Probing the input's partition
    count here (.rdd.getNumPartitions) would double-plan the subtree on
    every call, so the choice stays a static flag per call site."""
    dist = (
        corpus.repartition(
            corpus.sparkSession.sparkContext.defaultParallelism,
            F.col("doc_id"),
        )
        if pin_width
        else corpus.repartition(F.col("doc_id"))
    )
    tokd = (
        dist.select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") >= n)
    )
    return tokd.select("doc_id", shingles("toks", n).alias("sh")).withColumn(
        "n_sh", F.size("sh")
    )


def _explode_shingles(sh: DataFrame, extra: list[str]) -> DataFrame:
    """(doc_id, *extra, s) — one row per shingle.

    Uses explode_outer, not explode: for a plain explode Catalyst's
    InferFiltersFromGenerate adds ``size(sh) > 0 AND isnotnull(sh)`` and
    pushes it through the exchange into the scan, substituting the whole
    (interpreted, HOF-based) shingle expression into a pre-shuffle filter
    — evaluated ~3× per row, partly on the scan's single input partition
    (measured 20s vs 1s at sf0.1). Every doc here has >= 1 shingle, so
    outer semantics are identical; the isNotNull guard keeps the schema
    non-null without being pushable below the generate."""
    return (
        sh.select("doc_id", *extra, F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
    )


def _jaccard_inverted_index_sql(corpus_sql: str, n: int, threshold: float) -> str:
    """Exact pairwise Jaccard >= threshold via an inverted index (DuckDB)."""
    parts = " || ' ' || ".join(f"toks[i+{k + 1}]" for k in range(n))
    return f"""
    WITH corpus AS ({corpus_sql}),
    tok AS (
        SELECT doc_id, {TOK_SQL.format(c='text')} AS toks FROM corpus
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(toks) - {n - 1}),
                                            i -> {parts})) AS sh
        FROM tok WHERE len(toks) >= {n}
    ),
    ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
    pair AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*) AS inter,
               any_value(a.n) AS n_a, any_value(b.n) AS n_b
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, inter / (n_a + n_b - inter) AS jaccard
    FROM pair
    WHERE inter / (n_a + n_b - inter) >= {threshold}
    """


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


@query(
    "minhash_lsh_near_dup",
    oracle=_jaccard_inverted_index_sql(
        NEAR_DUP_CORPUS_SQL, 3, JACCARD_MINHASH_THRESHOLD
    ),
)
def minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (3-word shingles, Jaccard >= 0.7).

    Pipeline: distinct shingles → explode → one groupBy builds the 64-MIN
    signature (map-side partial MINs; shuffle = (doc, 64 longs)) → 32
    band buckets of 2 rows → posexplode → self-equi-join on
    (band, bucket) generates candidates *within buckets only* → exact
    Jaccard verification on candidates via array_intersect.

    At 100 TB: signature + banding cost is linear; the quadratic term is
    confined to same-bucket groups (true near-dups plus ~4e-10 noise).
    Hot buckets (mass-duplicated boilerplate) are the known skew risk —
    AQE skew-join handles moderate cases; pathological ones cap bucket
    size upstream. The DuckDB oracle computes ground truth exactly, so
    this entry verifies recall, not just plumbing.
    """
    return minhash_pairs(
        _near_dup_corpus(spark, sf_dir), 3, JACCARD_MINHASH_THRESHOLD
    )


def minhash_pairs(
    corpus: DataFrame,
    n: int,
    threshold: float,
    bucket_cap: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) — MinHash-LSH candidates, exact-verified.

    ``bucket_cap`` is the hot-bucket skew guard: an LSH bucket holding
    ``s`` documents yields s*(s-1)/2 candidate pairs, so one
    mass-duplicated boilerplate document (s = 10^6 at 100 TB) turns a
    linear stage into 5*10^11 pairs. With the cap set, buckets larger
    than ``bucket_cap`` are dropped *before* the self-join — their
    content is by definition mass-duplicate and belongs to the exact
    dedup path (sha-digest groupBy), not pairwise verification. Default
    ``None`` keeps exact parity with the oracle.
    """
    # sh feeds three plan branches (signature build + both sides of the
    # verification join) — persist the small (doc_id, shingles) frame so
    # the shingle pipeline runs once, not 3x (LRU-evicted, ~MBs here;
    # at 100 TB this is the materialized shingle table between stages)
    sh = _shingle_sets(corpus, n).persist()

    ex = _explode_shingles(sh, [])
    sig = ex.groupBy("doc_id").agg(*minhash_signature_aggs("s", 64))
    bands = sig.select(
        "doc_id", F.posexplode(band_buckets(32, 2)).alias("band", "bucket")
    )
    if bucket_cap is not None:
        # partial-agg count per (band, bucket); hot buckets are few by
        # construction, so the drop-list broadcasts
        hot = (
            bands.groupBy("band", "bucket")
            .agg(F.count("*").alias("bsz"))
            .filter(F.col("bsz") > bucket_cap)
            .select("band", "bucket")
        )
        bands = bands.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )

    sa = sh.select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")
    )
    pairs = cand.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    return pairs.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# Incremental MinHash dedup against a persisted band index
# ---------------------------------------------------------------------------


def minhash_band_index(corpus: DataFrame, n: int) -> tuple[DataFrame, DataFrame]:
    """(bands, shingle_sets) — the two halves of a persistable MinHash
    index: (doc_id, band, bucket) rows for candidate generation and
    (doc_id, sh, n_sh) shingle sets for exact verification. Same
    signature arithmetic as :func:`minhash_pairs`, split out so the
    index can be WRITTEN once and joined against by every later batch —
    the production shape where yesterday's corpus is never re-shingled."""
    sh = _shingle_sets(corpus, n)
    ex = _explode_shingles(sh, [])
    sig = ex.groupBy("doc_id").agg(*minhash_signature_aggs("s", 64))
    bands = sig.select(
        "doc_id", F.posexplode(band_buckets(32, 2)).alias("band", "bucket")
    )
    return bands, sh


def minhash_incremental_pairs(
    new_bands: DataFrame,
    new_sh: DataFrame,
    index_bands: DataFrame,
    index_sh: DataFrame,
    threshold: float,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch (new×indexed ∪ new×new),
    against a pre-built index: the incremental-ingest dedup step. Only
    the new batch is shingled/signed; the indexed corpus contributes
    its stored band rows and shingle sets. Because MinHash banding is
    deterministic per document, the candidate set (and hence the
    verified result) is identical to a full recompute restricted to
    pairs touching the new batch — asserted in tests.

    Scale: per batch the cost is new_n × (signature + band join); the
    index side is an equi-join on (band, bucket) — at 100 TB store the
    band table bucketed by (band, bucket) so the join co-locates
    without a shuffle of the historical index."""
    all_bands = index_bands.unionByName(new_bands)
    a, b = new_bands.alias("a"), all_bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("id_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    all_sh = index_sh.unionByName(new_sh)
    sa = all_sh.select(
        F.col("doc_id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = all_sh.select(
        F.col("doc_id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    pairs = cand.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    return pairs.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


#: table names of the persisted streaming dedup state
MINHASH_INDEX_BANDS = "_minhash_index_bands"
MINHASH_INDEX_SHINGLES = "_minhash_index_shingles"
MINHASH_PAIRS_TABLE = "_near_dup_pairs"


def incremental_dedup_batch(
    store,
    batch_docs: DataFrame,
    n: int = 3,
    threshold: float = JACCARD_MINHASH_THRESHOLD,
) -> None:
    """One micro-batch of the STREAMING dedup loop (a ``foreachBatch``
    body): sign the batch, emit near-dup pairs of batch×(index ∪ batch)
    into MINHASH_PAIRS_TABLE, then append the batch's bands + shingle
    sets to the index — so every later batch dedups against all history
    without ever re-shingling it.

    ``store`` is a :class:`~...sources.table_store.TableStore`. This body
    appends, so a crash-replayed batch would add its pairs and index rows
    twice; exactly-once needs its writes keyed by batch and purged on
    replay, as :class:`~...streaming.segments.SegmentTable` does (each
    batch's rows keyed by (checkpoint, batch_id), purged then rewritten).
    The availableNow file source already assigns each file to exactly
    one batch."""
    new_bands, new_sh = minhash_band_index(batch_docs, n)
    new_bands = new_bands.persist()
    new_sh = new_sh.persist()
    try:
        if store.exists(MINHASH_INDEX_BANDS):
            index_bands = store.read(MINHASH_INDEX_BANDS)
            index_sh = store.read(MINHASH_INDEX_SHINGLES)
        else:
            index_bands = new_bands.limit(0)
            index_sh = new_sh.limit(0)
        # persist before the emptiness probe: isEmpty() executes the
        # whole band-join + Jaccard-verification DAG, and an unpersisted
        # frame would re-execute it all for the append — doubling every
        # micro-batch's latency (review finding)
        pairs = minhash_incremental_pairs(
            new_bands, new_sh, index_bands, index_sh, threshold
        ).persist()
        try:
            if not pairs.isEmpty():
                store.append(MINHASH_PAIRS_TABLE, pairs)
        finally:
            pairs.unpersist()
        store.append(MINHASH_INDEX_BANDS, new_bands)
        store.append(MINHASH_INDEX_SHINGLES, new_sh)
    finally:
        new_bands.unpersist()
        new_sh.unpersist()


@query(
    "minhash_incremental_near_dup",
    oracle=f"""
    SELECT id_a, id_b, jaccard FROM (
        {_jaccard_inverted_index_sql(NEAR_DUP_CORPUS_SQL, 3, JACCARD_MINHASH_THRESHOLD)}
    ) WHERE id_a % 4 = 0 OR id_b % 4 = 0
    """,
)
def minhash_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup, contract-verified: the corpus is split
    into an 'indexed' history (doc_id % 4 != 0) and a 'new batch'
    (doc_id % 4 == 0); the new batch is deduped against the history's
    band index plus itself. The oracle is the exact inverted-index
    Jaccard over the WHOLE corpus restricted to pairs touching the new
    batch — so this entry proves the incremental path loses nothing vs
    a full recompute (on this corpus, where LSH recall is exact)."""
    corpus = _near_dup_corpus(spark, sf_dir)
    old = corpus.filter(F.col("doc_id") % 4 != 0)
    new = corpus.filter(F.col("doc_id") % 4 == 0)
    index_bands, index_sh = minhash_band_index(old, 3)
    new_bands, new_sh = minhash_band_index(new, 3)
    # each shingle frame feeds banding + verification — persist both
    index_sh = index_sh.persist()
    new_sh = new_sh.persist()
    return minhash_incremental_pairs(
        new_bands, new_sh, index_bands, index_sh, JACCARD_MINHASH_THRESHOLD
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard via inverted index (exact, bucketed by shingle)
# ---------------------------------------------------------------------------


@query(
    "ngram_jaccard_pairs",
    oracle=_jaccard_inverted_index_sql(
        NEAR_DUP_CORPUS_SQL, 4, JACCARD_NGRAM_THRESHOLD
    ),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-gram-shingle Jaccard pairs (>= 0.6) via inverted index.

    explode distinct shingles → self-join on the shingle (only documents
    sharing content meet) → per-pair intersection counts → Jaccard
    filter. The join is hash-partitioned on the shingle; intersection
    counting is a partial-agg groupBy on (id_a, id_b). At 100 TB a
    document-frequency cap (drop shingles with df > ~10k) bounds the
    per-shingle fan-out — standard stop-shingle pruning (see module
    docstring on shingle-width selectivity).
    """
    return jaccard_pairs(_near_dup_corpus(spark, sf_dir), 4, JACCARD_NGRAM_THRESHOLD)


def jaccard_pairs(
    corpus: DataFrame,
    n: int,
    threshold: float,
    df_cap: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) — exact n-gram-shingle Jaccard >= threshold
    via the inverted-index self-join (see :func:`ngram_jaccard_pairs`).

    ``df_cap`` is the stop-shingle skew guard: a shingle appearing in
    ``d`` documents fans out to d*(d-1)/2 join rows, so boilerplate
    shingles (page headers, license blurbs — d = 10^5+ at 100 TB) blow
    up the inverted-index join. With the cap set, shingles whose
    document frequency exceeds ``df_cap`` are dropped from *both* the
    index and the per-document shingle counts, i.e. the result is exact
    Jaccard over the non-stop shingle sets — the standard prune
    (documents sharing only boilerplate are not near-duplicates).
    Default ``None`` keeps exact parity with the oracle.
    """
    sh = _shingle_sets(corpus, n).withColumnRenamed("n_sh", "n")
    if df_cap is not None:
        ex = _explode_shingles(sh.select("doc_id", "sh"), [])
        stop = (
            ex.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > df_cap)
            .select("s")
        )
        # stop-shingles are few (the point of a high cap) → broadcast
        # anti join; recount per-doc sizes over surviving shingles so
        # the Jaccard denominator matches the pruned sets
        kept = ex.join(F.broadcast(stop), "s", "left_anti")
        ex = kept.withColumn(
            "n", F.count("*").over(Window.partitionBy("doc_id"))
        ).persist()
    else:
        # both sides of the self-join read ex — persist so shingling runs once
        ex = _explode_shingles(sh, ["n"]).persist()
    a, b = ex.alias("a"), ex.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.count("*").alias("inter"),
            F.first("a.n").alias("n_a"),
            F.first("b.n").alias("n_b"),
        )
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return pair.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# df-capped inverted index (the skew guard, contract-verified)
# ---------------------------------------------------------------------------

#: boilerplate blast: 40 identical documents with a vocabulary disjoint
#: from the test corpus — their shingles have df=40
_BOILER = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
)
CAPPED_DF_CAP = 30
CAPPED_CORPUS_SQL = f"""
    {NEAR_DUP_CORPUS_SQL}
    UNION ALL
    SELECT 90000 + i AS doc_id, '{_BOILER}' AS text FROM range(40) t(i)
"""


def _jaccard_capped_sql(corpus_sql: str, n: int, threshold: float, df_cap: int) -> str:
    """DuckDB twin of ``jaccard_pairs(df_cap=...)``: drop shingles with
    document frequency above the cap from index AND per-doc counts."""
    parts = " || ' ' || ".join(f"toks[i+{k + 1}]" for k in range(n))
    return f"""
    WITH corpus AS ({corpus_sql}),
    tok AS (
        SELECT doc_id, {TOK_SQL.format(c='text')} AS toks FROM corpus
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(toks) - {n - 1}),
                                            i -> {parts})) AS sh
        FROM tok WHERE len(toks) >= {n}
    ),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    keep AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= {df_cap}),
    kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN keep USING (s)),
    nn AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    pair AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, inter / (na.n + nb.n - inter) AS jaccard
    FROM pair
    JOIN nn na ON na.doc_id = id_a
    JOIN nn nb ON nb.doc_id = id_b
    WHERE inter / (na.n + nb.n - inter) >= {threshold}
    """


@query(
    "ngram_jaccard_capped",
    oracle=_jaccard_capped_sql(
        CAPPED_CORPUS_SQL, 4, JACCARD_NGRAM_THRESHOLD, CAPPED_DF_CAP
    ),
)
def ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-cap skew guard as a contract-verified query: the corpus is
    the near-dup corpus plus a 40-document boilerplate blast; with
    df_cap=30 every boilerplate shingle (df=40) is dropped before the
    self-join, so the 40*39/2 = 780 boilerplate pairs never exist and
    the output equals the genuine near-dup pairs — which is exactly what
    the oracle's capped inverted index computes. This is the 100 TB
    posture: mass-duplicated content is excluded from pairwise Jaccard
    (the exact-dedup path owns it) instead of quadratically exploding
    the index join."""
    corpus = _near_dup_corpus(spark, sf_dir)
    boiler = (
        spark.range(40)
        .select((F.col("id") + 90000).alias("doc_id"), F.lit(_BOILER).alias("text"))
    )
    return jaccard_pairs(
        corpus.unionByName(boiler), 4, JACCARD_NGRAM_THRESHOLD, df_cap=CAPPED_DF_CAP
    )


# ---------------------------------------------------------------------------
# Duplicate clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------

#: clustering corpus: every 7th doc gets TWO mutated generations, each
#: appending tokens unique to the source doc (no cross-document shingle
#: collisions): gen1 = 4 extra tokens, gen2 = the same 4 plus 4 more, so
#: gen1<->gen2 are closer to each other than either is to the original —
#: some links only exist transitively, which is what clustering resolves.
_MUT = "' q' || i || ' w' || i || ' e' || i || ' r' || i"
_MUT2 = _MUT + " || ' t' || i || ' y' || i || ' u' || i || ' o' || i"
CLUSTER_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id, text || {_MUT} AS text
    FROM (SELECT doc_id, text, CAST(doc_id AS VARCHAR) AS i FROM documents)
    WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 20000 AS doc_id, text || {_MUT2} AS text
    FROM (SELECT doc_id, text, CAST(doc_id AS VARCHAR) AS i FROM documents)
    WHERE doc_id % 7 = 0
"""

JACCARD_CLUSTER_THRESHOLD = 0.5


def _cluster_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id").cast("string")
    mut = [F.lit(" q"), i, F.lit(" w"), i, F.lit(" e"), i, F.lit(" r"), i]
    mut2 = mut + [F.lit(" t"), i, F.lit(" y"), i, F.lit(" u"), i, F.lit(" o"), i]
    src = d.filter(F.col("doc_id") % 7 == 0)
    g1 = src.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), *mut).alias("text"),
    )
    g2 = src.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), *mut2).alias("text"),
    )
    return d.unionByName(g1).unionByName(g2)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    algorithm: str = "propagation",
) -> DataFrame:
    """Connected components: min-label propagation or star contraction.

    Returns (node, cluster_id) for every node appearing in ``edges``,
    where cluster_id is the minimum node id in the component — the
    canonical "keeper" of a duplicate cluster.

    ``algorithm="propagation"`` (default): each iteration is one join +
    one aggregation, both hash-partitioned on the node id; iterations
    needed = component diameter. Near-dup clusters are shallow (copies
    of a common source), so this converges in 2-3 rounds. If ``max_iter``
    rounds pass without convergence the function WARNS and returns the
    (possibly unconverged) labels — callers clustering adversarial
    graphs should pass ``algorithm="star"``.

    ``algorithm="star"``: the large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    which contracts any graph in O(log^2 n) rounds regardless of
    diameter — the production choice for deep/chain-shaped components.
    Implemented join-only (no collect_set): per round, m(u) =
    min(neighbors(u) ∪ {u}) via groupBy-min, then large-star rewires
    strictly-larger neighbors to m(u) and small-star rewires
    less-or-equal neighbors (plus u itself) to m(u). Convergence when a
    small-star round changes nothing (edge multiset checksum stable).

    The convergence probe reads one boolean per round (LIMIT 1 count)
    or a 2-value checksum aggregate, never row data.

    Every round truncates lineage with ``localCheckpoint`` — the classic
    iterative-DataFrame pitfall is that persist() caches *data* but the
    logical plan still grows by one join per round, and analysis/AQE cost
    compounds until a "cheap" iteration takes longer than the whole job
    (measured: round 3 at 20 s vs 1 s with checkpointing). Checkpointing
    ``edges`` up front also stops the two union branches from computing
    the candidate-pair subplan twice.

    Superseded rounds' checkpoint BLOCKS are freed as the loop advances
    (:class:`~...functions.ckpt.CheckpointJanitor` — plain
    ``DataFrame.unpersist`` cannot reach them), so executor storage
    holds ONE copy of the label table regardless of round count instead
    of O(rounds) copies — the difference between bounded state and an
    OOM on a billion-node graph. Only the final round's blocks survive:
    the returned lazy frame reads them.
    """
    from ..functions.ckpt import CheckpointJanitor

    # validate BEFORE the eager checkpoint: a bad argument must not
    # cost a full job over the edge subplan and leak its pinned blocks
    if algorithm not in ("star", "propagation"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    spark = edges.sparkSession
    ej = CheckpointJanitor(spark)
    edges = ej.checkpoint(
        edges.select(F.col(src).alias("node"), F.col(dst).alias("peer"))
    )
    if algorithm == "star":
        return _connected_components_star(edges, max_iter, edges_jan=ej)
    und = (
        edges.unionByName(
            edges.select(F.col("peer").alias("node"), F.col("node").alias("peer"))
        )
        .repartition(F.col("node"))
        .persist()
    )
    lj = CheckpointJanitor(spark)
    labels = lj.checkpoint(
        und.select("node").distinct().withColumn("lbl", F.col("node"))
    )
    try:
        converged = False
        for _ in range(max_iter):
            neigh = (
                und.join(
                    labels.select(
                        F.col("node").alias("peer"), F.col("lbl").alias("peer_lbl")
                    ),
                    "peer",
                )
                .groupBy("node")
                .agg(F.min("peer_lbl").alias("neigh_min"))
            )
            new_lbl = F.least(
                F.col("lbl"), F.coalesce(F.col("neigh_min"), F.col("lbl"))
            )
            # carry a changed-flag instead of re-joining old vs new labels:
            # the convergence probe then only scans the checkpointed rows
            new_labels = lj.checkpoint(
                labels.join(neigh, "node", "left").select(
                    "node",
                    new_lbl.alias("lbl"),
                    (new_lbl != F.col("lbl")).alias("chg"),
                )
            )
            changed = new_labels.filter("chg").limit(1).count()
            labels = new_labels.select("node", "lbl")
            if changed == 0:
                converged = True
                break
        if not converged:
            msg = (
                f"connected_components: min-label propagation did not "
                f"converge within max_iter={max_iter} rounds; labels may "
                f"span a component (diameter > max_iter). Use "
                f"algorithm='star' for deep graphs."
            )
            logger.warning(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        lj.detach()  # the caller reads the final round's blocks
        return labels.select(F.col("node"), F.col("lbl").alias("cluster_id"))
    finally:
        und.unpersist()
        # edges' blocks are dead: the returned frame reads only the
        # final label checkpoint, and und (the sole edges consumer) is
        # unpersisted above
        ej.release()
        # no-op on the success path (detach cleared the handle); on an
        # exception mid-loop it frees the last label round's blocks
        lj.release()


def _min_star(e: DataFrame) -> DataFrame:
    """m(u) = min(neighbors(u) ∪ {u}) over an undirected edge frame."""
    return (
        e.groupBy("node")
        .agg(F.min("peer").alias("mn"))
        .select("node", F.least(F.col("mn"), F.col("node")).alias("m"))
    )


def _connected_components_star(
    edges: DataFrame, max_iter: int, edges_jan=None
) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al., MR-CC).

    State is the undirected edge multiset (deduped each round). Both
    steps are a groupBy-min plus a join — hash-partitioned on node, no
    neighborhood materialization, so a 10^6-degree hub never builds an
    in-memory list. Terminates when the small-star output is stable
    (checksum over the sorted edge set: count + sum of xxhash64); label
    extraction then reads each node's final star center.

    Superseded rounds' checkpoint blocks are freed as the contraction
    advances (see :func:`connected_components`): storage holds one edge
    multiset, not one per round. ``edges_jan`` (optional) is the
    caller's janitor for the input edge checkpoint — released once the
    first undirected checkpoint and node set are materialized.
    """
    from ..functions.ckpt import CheckpointJanitor

    uj = CheckpointJanitor(edges.sparkSession)
    und = uj.checkpoint(
        edges.unionByName(
            edges.select(F.col("peer").alias("node"), F.col("node").alias("peer"))
        )
        .filter(F.col("node") != F.col("peer"))
        .distinct()
    )
    nodes = und.select("node").distinct().localCheckpoint(eager=True)
    if edges_jan is not None:
        edges_jan.release()  # und + nodes hold everything downstream needs

    def checksum(e: DataFrame) -> tuple:
        lo = F.least(F.col("node"), F.col("peer"))
        hi = F.greatest(F.col("node"), F.col("peer"))
        row = e.select(
            F.count("*").alias("c"),
            # decimal sum: long-sum of 64-bit hashes overflows under ANSI
            F.sum(F.xxhash64(lo, hi).cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["c"], row["h"])

    prev = checksum(und)
    converged = False
    for _ in range(max_iter):
        # large-star: rewire strictly-larger neighbors to m(u)
        m = _min_star(und)
        ls = (
            und.join(m, "node")
            .filter(F.col("peer") > F.col("node"))
            .select(F.col("peer").alias("node"), F.col("m").alias("peer"))
        )
        und = uj.checkpoint(
            ls.unionByName(ls.select(F.col("peer").alias("node"), F.col("node").alias("peer")))
            .filter(F.col("node") != F.col("peer"))
            .distinct()
        )
        # small-star: rewire less-or-equal neighbors (and u itself) to m(u)
        m = _min_star(und)
        ss = (
            und.filter(F.col("peer") <= F.col("node"))
            .join(m, "node")
            .select(F.col("peer").alias("node"), F.col("m").alias("peer"))
            .unionByName(m.select("node", F.col("m").alias("peer")))
        )
        und = uj.checkpoint(
            ss.unionByName(ss.select(F.col("peer").alias("node"), F.col("node").alias("peer")))
            .filter(F.col("node") != F.col("peer"))
            .distinct()
        )
        cur = checksum(und)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        msg = (
            f"connected_components(star): edge set not stable after "
            f"max_iter={max_iter} alternations"
        )
        logger.warning(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    # at the fixed point every node's neighbors include its component
    # min; isolated-after-contraction nodes are their own center
    lbl = (
        nodes.join(_min_star(und), "node", "left")
        .select("node", F.coalesce(F.col("m"), F.col("node")).alias("cluster_id"))
    )
    uj.detach()  # lbl lazily reads the final edge checkpoint + nodes
    return lbl


def _clusters_oracle_sql() -> str:
    pairs = _jaccard_inverted_index_sql(
        CLUSTER_CORPUS_SQL, 4, JACCARD_CLUSTER_THRESHOLD
    )
    return f"""
    WITH RECURSIVE
    pairq AS ({pairs}),
    und AS (
        SELECT id_a AS node, id_b AS peer FROM pairq
        UNION ALL
        SELECT id_b AS node, id_a AS peer FROM pairq
    ),
    reach(node, lbl) AS (
        SELECT node, node FROM (SELECT DISTINCT node FROM und)
        UNION
        SELECT u.node, r.lbl FROM und u JOIN reach r ON r.node = u.peer
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id
    FROM reach GROUP BY node
    """


@query("duplicate_clusters", oracle=_clusters_oracle_sql())
def duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: pair generation → connected components.

    The step after pair finding that an actual dedup pipeline needs:
    near-dup PAIRS don't say which rows to drop — transitive closure
    does (keep one doc per cluster). Two mutated generations of every
    7th document make some links transitive-only (gen2 is closest to
    gen1, not to the original), so the component structure is not
    recoverable from pairs alone. Oracle: the same pairs fed through a
    recursive-CTE min-label closure in DuckDB.

    At 100 TB: pair generation is the dominant cost (inverted index /
    LSH, both bucketed); the closure iterates joins hash-partitioned on
    node id over the much smaller edge set — the standard two-phase
    shape (candidate generation >> clustering).
    """
    corpus = _cluster_corpus(spark, sf_dir)
    edges = jaccard_pairs(corpus, 4, JACCARD_CLUSTER_THRESHOLD)
    comp = connected_components(edges)
    return comp.select(F.col("node").alias("doc_id"), "cluster_id")


def _dedup_materialize_oracle_sql() -> str:
    pairs = _jaccard_inverted_index_sql(
        CLUSTER_CORPUS_SQL, 4, JACCARD_CLUSTER_THRESHOLD
    )
    return f"""
    WITH RECURSIVE
    pairq AS ({pairs}),
    und AS (
        SELECT id_a AS node, id_b AS peer FROM pairq
        UNION ALL
        SELECT id_b AS node, id_a AS peer FROM pairq
    ),
    reach(node, lbl) AS (
        SELECT node, node FROM (SELECT DISTINCT node FROM und)
        UNION
        SELECT u.node, r.lbl FROM und u JOIN reach r ON r.node = u.peer
    ),
    comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    drop_ids AS (SELECT node FROM comp WHERE node != cluster_id)
    SELECT c.doc_id, c.text FROM ({CLUSTER_CORPUS_SQL}) c
    WHERE c.doc_id NOT IN (SELECT node FROM drop_ids)
    """


@query("dedup_materialize_canonical", oracle=_dedup_materialize_oracle_sql())
def dedup_materialize_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of the dedup pipeline: find pairs → cluster →
    MATERIALIZE the deduped corpus, keeping one canonical document
    (cluster-min id) per near-dup cluster and every unclustered
    document untouched. This is the operator that actually produces the
    training set; pairs and clusters are its intermediates.

    Scale shape: pair generation dominates (inverted-index, bucketed);
    the cluster labels are a tiny frame joined back as a LEFT ANTI hash
    join on doc_id — no new wide stage over the corpus text."""
    corpus = _cluster_corpus(spark, sf_dir)
    edges = jaccard_pairs(corpus, 4, JACCARD_CLUSTER_THRESHOLD)
    comp = connected_components(edges)
    drop = comp.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    return corpus.join(drop, "doc_id", "left_anti")


def _cluster_size_histogram_oracle_sql() -> str:
    pairs = _jaccard_inverted_index_sql(
        CLUSTER_CORPUS_SQL, 4, JACCARD_CLUSTER_THRESHOLD
    )
    return f"""
    WITH RECURSIVE
    pairq AS ({pairs}),
    und AS (
        SELECT id_a AS node, id_b AS peer FROM pairq
        UNION ALL
        SELECT id_b AS node, id_a AS peer FROM pairq
    ),
    reach(node, lbl) AS (
        SELECT node, node FROM (SELECT DISTINCT node FROM und)
        UNION
        SELECT u.node, r.lbl FROM und u JOIN reach r ON r.node = u.peer
    ),
    comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    sizes AS (
        SELECT cluster_id, COUNT(*) AS cluster_size
        FROM comp GROUP BY cluster_id
    ),
    hist AS (
        SELECT cluster_size,
               COUNT(*) AS n_clusters,
               SUM(cluster_size) AS n_docs
        FROM sizes GROUP BY cluster_size
    ),
    tot AS (SELECT COUNT(*) AS n FROM ({CLUSTER_CORPUS_SQL})),
    cl AS (SELECT COUNT(*) AS n FROM comp)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM hist
    UNION ALL
    SELECT 1, tot.n - cl.n, tot.n - cl.n FROM tot, cl
    """


@query("cluster_size_histogram", oracle=_cluster_size_histogram_oracle_sql())
def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup telemetry: the distribution of near-dup cluster sizes,
    including the singletons (documents in no cluster) as size 1 — the
    first report a corpus owner reads after a dedup run ("how much is
    duplicated, and how deep do the copy chains go?"), and the input to
    choosing the materialization policy (keep-one vs. keep-best).

    Plan: the pair→component machinery is shared with
    duplicate_clusters; past it everything is tiny — component labels
    group to cluster sizes, sizes group to the histogram (two groupBys
    over frames that shrink geometrically), and the singleton row
    derives from two 1-row counts (corpus total − clustered nodes)
    broadcast-joined. Every clustered component has ≥2 members by
    construction (labels only exist for paired nodes), so the size-1
    row never collides with the histogram rows."""
    corpus = _cluster_corpus(spark, sf_dir)
    edges = jaccard_pairs(corpus, 4, JACCARD_CLUSTER_THRESHOLD)
    comp = connected_components(edges)
    sizes = comp.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )
    tot = corpus.agg(F.count("*").alias("n_corpus"))
    cl = comp.agg(F.count("*").alias("n_clustered"))
    singleton = (
        tot.crossJoin(F.broadcast(cl))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("n_corpus") - F.col("n_clustered"))
            .cast("long")
            .alias("n_clusters"),
            (F.col("n_corpus") - F.col("n_clustered"))
            .cast("long")
            .alias("n_docs"),
        )
    )
    return hist.select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters",
        "n_docs",
    ).unionAll(singleton)


def _source_overlap_oracle_sql() -> str:
    pairs = _jaccard_inverted_index_sql(
        CLUSTER_CORPUS_SQL, 4, JACCARD_CLUSTER_THRESHOLD
    )
    return f"""
    WITH pairq AS ({pairs}),
    src AS (
        SELECT doc_id,
               CASE WHEN doc_id >= 10000 THEN 'mirror:' || source
                    ELSE source END AS source
        FROM (
            SELECT doc_id, source FROM documents
            UNION ALL
            SELECT doc_id + 10000, source FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id + 20000, source FROM documents WHERE doc_id % 7 = 0
        )
    )
    SELECT LEAST(sa.source, sb.source) AS source_a,
           GREATEST(sa.source, sb.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairq p
    JOIN src sa ON p.id_a = sa.doc_id
    JOIN src sb ON p.id_b = sb.doc_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@query("cross_source_overlap", oracle=_source_overlap_oracle_sql())
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-governance telemetry: the source×source near-duplication
    matrix — for every pair of sources, how many near-dup pairs cross
    them. This is the report that finds MIRRORED CRAWLS (two "sources"
    that are substantially the same data): a heavy off-diagonal cell
    means one source should be dropped or deduped against the other
    before mixture weights are chosen.

    The synthesized mutated copies stand in as a mirror crawl (their
    source label is 'mirror:' + the original's), so the matrix has the
    off-diagonal structure the operator exists to find. Plan: the pair
    machinery is shared with duplicate_clusters; each pair side then
    joins the (doc_id → source) map as a plain HASH join: the map is
    CORPUS-sized (one row per document), so broadcasting it would ship
    the whole corpus's keys to every executor (review finding — the
    docstring used to claim it was catalog-sized); the near-dup pair
    frame is the small side anyway and the join keys hash-partition.
    One groupBy on the normalized (LEAST, GREATEST) pair counts cells;
    the output matrix is ≤ |sources|² rows."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    corpus = _cluster_corpus(spark, sf_dir)
    edges = jaccard_pairs(corpus, 4, JACCARD_CLUSTER_THRESHOLD)
    mirrored = d.filter(F.col("doc_id") % 7 == 0)
    src = (
        d.select("doc_id", "source")
        .unionByName(
            mirrored.select(
                (F.col("doc_id") + 10000).alias("doc_id"),
                F.concat(F.lit("mirror:"), F.col("source")).alias("source"),
            )
        )
        .unionByName(
            mirrored.select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.concat(F.lit("mirror:"), F.col("source")).alias("source"),
            )
        )
    )
    sa = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
    )
    sb = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
    )
    return (
        edges.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration (estimated vs exact Jaccard)
# ---------------------------------------------------------------------------

CAL_N_HASHES = 64  #: signature width under calibration
CAL_SHINGLE_N = 3

#: md5-based signature hash (production signatures use xxhash64 — one
#: pass, 64 agg expressions — but xxhash64 has no DuckDB twin; the
#: calibration query swaps in the engine-portable 60-bit md5 device so
#: the ORACLE recomputes the identical signatures)
_CAL_H = (
    "CAST('0x' || substr(md5('mh{i}:' || s), 1, 15) AS BIGINT)"
)


def _cal_sh_sql() -> str:
    parts = " || ' ' || ".join(f"toks[i+{k + 1}]" for k in range(CAL_SHINGLE_N))
    return f"""
    corpus AS (
        SELECT doc_id, text FROM ({NEAR_DUP_CORPUS_SQL})
        WHERE doc_id >= 10000 OR doc_id % 7 = 0
    ),
    tok AS (SELECT doc_id, {TOK_SQL.format(c='text')} AS toks FROM corpus),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(toks) - {CAL_SHINGLE_N - 1}),
                                            i -> {parts})) AS sh
        FROM tok WHERE len(toks) >= {CAL_SHINGLE_N}
    )"""


@query(
    "minhash_estimate_calibration",
    oracle=f"""
    WITH {_cal_sh_sql()},
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    sig AS (
        SELECT doc_id, list(mh ORDER BY i) AS sig FROM (
            SELECT doc_id, i, MIN({_CAL_H.format(i="' || i || '")}) AS mh
            FROM ex, (SELECT unnest(range({CAL_N_HASHES})) AS i) t
            GROUP BY doc_id, i)
        GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_filter(range({CAL_N_HASHES}),
                               k -> sa.sig[k+1] = sb.sig[k+1])) AS matches,
               len(list_intersect(a.sh, b.sh)) AS inter,
               len(a.sh) AS n_a, len(b.sh) AS n_b
        FROM sh a
        JOIN sh b ON b.doc_id = a.doc_id + 10000
        JOIN sig sa ON sa.doc_id = a.doc_id
        JOIN sig sb ON sb.doc_id = b.doc_id
        WHERE a.doc_id < 10000
    )
    SELECT id_a, id_b,
           CAST((1000 * matches) // {CAL_N_HASHES} AS BIGINT) AS est_permille,
           CAST((1000 * inter) // (n_a + n_b - inter) AS BIGINT)
               AS exact_permille,
           CAST(abs((1000 * matches) // {CAL_N_HASHES}
                    - (1000 * inter) // (n_a + n_b - inter)) AS BIGINT)
               AS abs_err_permille
    FROM pairs
    """,
)
def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ACCURACY audit: for every synthesized (original, mutated)
    pair, the signature-estimated Jaccard (matching positions / 64)
    next to the exact shingle-set Jaccard and the absolute error — the
    calibration run that justifies the production threshold (est ≈
    J ± 1/sqrt(64) ≈ ±0.125; banding parameters in functions/text.py
    derive from exactly this error model).

    Signatures here use the engine-portable md5 hash so the oracle
    recomputes them bit-for-bit (the production index uses xxhash64 —
    same MIN-agg plan, faster hash, no SQL twin). Plan: one explode +
    ONE groupBy(doc) computing all 64 MINs as separate aggregate
    columns — the same one-pass shape as the production
    ``minhash_signature_aggs`` (functions/text.py:66). The earlier
    ``posexplode(sequence(0,63))`` variant fanned every shingle row out
    64x into a two-shuffle groupBy chain and was the suite's slowest
    query (3.8 s); the one-pass shape computes identical signatures
    with map-side partial MINs and shuffles (doc, 64 longs) once. One
    equi-join on the known pair structure, integer-permille outputs.
    Only the pair-participating docs (the %7 mutated family) are
    shingled and signed — 7x less signature work, same result (every
    emitted pair involves that family by construction)."""

    def cal_hash(i: int) -> Column:
        # md5-derived 60-bit hash, bit-identical to the oracle's _CAL_H
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(f"mh{i}:"), F.col("s")).cast("binary")
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
        ).cast("long")

    corpus = _near_dup_corpus(spark, sf_dir).filter(
        (F.col("doc_id") >= 10000) | (F.col("doc_id") % 7 == 0)
    )
    # pin_width: the 64 md5 hashes per shingle — this query's dominant
    # CPU cost — run in the partial-MIN map stage, i.e. at whatever
    # width the CACHED sh frame materialized at. Un-pinned, AQE's
    # cached-plan re-planning coalesces the kilobyte-scale frame to a
    # handful of partitions and the hash work serializes (measured
    # 3.4→8.3 s depending on the coalesce floor; decomposition in
    # OPTIMIZATION_r12.md).
    sh = _shingle_sets(corpus, CAL_SHINGLE_N, pin_width=True).persist()
    ex = _explode_shingles(sh.select("doc_id", "sh"), [])
    sig = (
        ex.groupBy("doc_id")
        .agg(
            *[
                F.min(cal_hash(i)).alias(f"mh{i}")
                for i in range(CAL_N_HASHES)
            ]
        )
        .select(
            "doc_id",
            F.array(*[F.col(f"mh{i}") for i in range(CAL_N_HASHES)]).alias(
                "sig"
            ),
        )
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        a.filter(F.col("id_a") < 10000)
        .join(b, F.col("id_b") == F.col("id_a") + 10000)
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(
                F.filter(
                    F.zip_with(
                        "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
                    ),
                    lambda v: v == 1,
                )
            ).alias("matches"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    est = F.expr(f"(1000 * matches) DIV {CAL_N_HASHES}")
    exact = F.expr("(1000 * inter) DIV (n_a + n_b - inter)")
    return pairs.select(
        "id_a",
        "id_b",
        est.cast("long").alias("est_permille"),
        exact.cast("long").alias("exact_permille"),
        F.abs(est - exact).cast("long").alias("abs_err_permille"),
    )
