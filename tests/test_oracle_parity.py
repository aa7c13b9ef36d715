"""Local twin of the driver's correctness gate: every registered query with
an oracle must match DuckDB exactly (row count + order-insensitive values)
on the small test scale. Exact equality — floats included — because the
driver hash-compares values; any nondeterminism must be fixed in the query,
not tolerated in the test."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

from tests.conftest import SF_SMALL
from tools.oracle_rows import canonical_rows, duck_con


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    sdf = QUERIES[name](spark, SF_SMALL).toPandas()
    con = duck_con(SF_SMALL)
    ddf = con.execute(ORACLES[name]).df()
    con.close()
    assert len(sdf) == len(ddf), f"{name}: row count {len(sdf)} != oracle {len(ddf)}"
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"{name}: columns {sorted(sdf.columns)} != oracle {sorted(ddf.columns)}"
    )
    srows, drows = canonical_rows(sdf), canonical_rows(ddf)
    mism = [i for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} mismatched rows; first: "
        f"spark={srows[mism[0]]} oracle={drows[mism[0]]}"
    )


def test_adversarial_corpus_parity(spark, tmp_path):
    """Oracle parity for EVERY registered query on adversarial data the
    synthetic tables lack: copy the small SF, then inject NULL keys
    (o_custkey, o_orderpriority, event_type, user_id — including users
    whose EVERY event type is NULL — plus event timestamps and values,
    lineitem part/supp keys, return flags and ship dates, customer
    nation/segment, supplier nation), single-token part names,
    malformed/fractional/quoted/boolean/overflowing props JSON,
    NULL/empty/whitespace document text, and NULL/ragged/NULL-element
    embedding vectors. Every
    query must still hash-match its oracle (and not abort, which is how
    several of the pinned bugs manifested). The round-6 review sweeps
    found ~15 engine-divergence bugs this single test now pins:
    window/ASOF NULL-key grouping, collect_set vs list(DISTINCT),
    NULLS FIRST/LAST in top-k sketches, ANSI getItem aborts, strict
    JSON parses, variant type-by-type cast emulation, to_json null
    field omission, string_agg/concat_ws empty-vs-NULL, and the ||
    chain nulling whole synthesized strings."""
    import shutil

    d = tmp_path / "nulls"
    d.mkdir()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    )
    for name in tables:
        shutil.copy(f"{SF_SMALL}/{name}.parquet", d / f"{name}.parquet")
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * REPLACE (
                CASE WHEN o_orderkey % 97 = 0 THEN NULL
                     ELSE o_custkey END AS o_custkey,
                CASE WHEN o_orderkey % 89 = 0 THEN NULL
                     ELSE o_orderpriority END AS o_orderpriority)
             FROM read_parquet('{SF_SMALL}/orders.parquet'))
            TO '{d}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
                CASE WHEN event_id % 83 = 0 OR user_id % 37 = 0 THEN NULL
                     ELSE event_type END AS event_type,
                CASE WHEN event_id % 101 = 0 THEN NULL
                     ELSE user_id END AS user_id,
                CASE WHEN event_id % 211 = 0 THEN NULL
                     ELSE ts END AS ts,
                CASE WHEN event_id % 199 = 0 THEN NULL
                     ELSE value END AS value,
                CASE WHEN event_id % 103 = 0 THEN 'not json'
                     WHEN event_id % 107 = 0 THEN '{{"k": 2.5}}'
                     WHEN event_id % 109 = 0 THEN '{{"k": "abc"}}'
                     WHEN event_id % 113 = 0 THEN '{{"k": "2.5"}}'
                     WHEN event_id % 127 = 0 THEN '{{"k": true}}'
                     WHEN event_id % 131 = 0 THEN '{{"k": 1e20}}'
                     WHEN event_id % 137 = 0
                          THEN '{{"k": 9007199254740993}}'
                     WHEN event_id % 139 = 0 THEN '{{"k": "007"}}'
                     ELSE props END AS props)
             FROM read_parquet('{SF_SMALL}/events.parquet'))
            TO '{d}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
                CASE WHEN p_partkey % 113 = 0
                     THEN split_part(p_name, ' ', 1)
                     ELSE p_name END AS p_name)
             FROM read_parquet('{SF_SMALL}/part.parquet'))
            TO '{d}/part.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
                CASE WHEN l_orderkey % 151 = 0 THEN NULL
                     ELSE l_partkey END AS l_partkey,
                CASE WHEN l_orderkey % 149 = 0 THEN NULL
                     ELSE l_suppkey END AS l_suppkey,
                CASE WHEN l_orderkey % 139 = 0 THEN NULL
                     ELSE l_returnflag END AS l_returnflag,
                CASE WHEN l_orderkey % 137 = 0 THEN NULL
                     ELSE l_shipdate END AS l_shipdate)
             FROM read_parquet('{SF_SMALL}/lineitem.parquet'))
            TO '{d}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
                CASE WHEN c_custkey % 127 = 0 THEN NULL
                     ELSE c_nationkey END AS c_nationkey,
                CASE WHEN c_custkey % 113 = 0 THEN NULL
                     ELSE c_mktsegment END AS c_mktsegment)
             FROM read_parquet('{SF_SMALL}/customer.parquet'))
            TO '{d}/customer.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
                CASE WHEN s_suppkey % 97 = 0 THEN NULL
                     ELSE s_nationkey END AS s_nationkey)
             FROM read_parquet('{SF_SMALL}/supplier.parquet'))
            TO '{d}/supplier.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
                CASE WHEN doc_id % 157 = 0 THEN NULL
                     WHEN doc_id % 163 = 0 THEN ''
                     WHEN doc_id % 167 = 0 THEN '   '
                     ELSE text END AS text,
                CASE WHEN doc_id % 173 = 0 THEN NULL
                     ELSE lang END AS lang,
                CASE WHEN doc_id % 179 = 0 THEN NULL
                     ELSE source END AS source)
             FROM read_parquet('{SF_SMALL}/documents.parquet'))
            TO '{d}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
                CASE WHEN vec_id % 157 = 0 THEN NULL
                     WHEN vec_id % 163 = 0 THEN embedding[1:32]
                     WHEN vec_id % 167 = 0 THEN
                         list_transform(range(len(embedding)),
                             i -> CASE WHEN i = 0 THEN NULL
                                       ELSE embedding[i+1] END)
                     ELSE embedding END AS embedding,
                CASE WHEN vec_id % 173 = 0 THEN NULL
                     ELSE label END AS label)
             FROM read_parquet('{SF_SMALL}/embeddings.parquet'))
            TO '{d}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    # the threaded whole-surface sweep (defined below; the other corpus
    # sweeps already use it) — this test predated it and looped
    # serially, costing ~147 s of the pytest budget (VERDICT r12 item 4)
    _sweep_all_queries(spark, str(d), "adversarial")


def _check_one_query(spark, sf_dir: str, label: str, name: str) -> str | None:
    try:
        sdf = QUERIES[name](spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001 — collecting a report
        return f"{name}: Spark aborted: {e}"
    con = duck_con(sf_dir)
    try:
        ddf = con.execute(ORACLES[name]).df()
    except Exception as e:  # noqa: BLE001
        return f"{name}: oracle aborted: {e}"
    finally:
        con.close()
    if len(sdf) != len(ddf):
        return f"{name}: rows {len(sdf)} != {len(ddf)}"
    if canonical_rows(sdf) != canonical_rows(ddf):
        return f"{name}: values diverge on {label} data"
    return None


def _sweep_all_queries(
    spark, sf_dir: str, label: str, exempt: frozenset[str] = frozenset()
) -> None:
    """Run every registered query + oracle on ``sf_dir`` and compare.

    Queries run CONCURRENTLY (8 threads): SparkSession job submission
    is thread-safe, each thread opens its own DuckDB connection, and
    the compare is pure Python — the sweep is dominated by per-query
    job latency, so threading cuts each whole-surface corpus sweep
    from ~3 min to well under one."""
    from concurrent.futures import ThreadPoolExecutor

    names = sorted(set(ORACLES) - exempt)
    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(
            pool.map(
                lambda n: _check_one_query(spark, sf_dir, label, n), names
            )
        )
    failures = [r for r in results if r is not None]
    assert not failures, "\n".join(failures)


def test_empty_corpus_parity(spark, tmp_path):
    """Oracle parity for EVERY registered query on COMPLETELY EMPTY
    tables (zero-row parquet copies with byte-identical Arrow schemas)
    — the analytic generalization of the reference's G4 empty-input
    handling. A fresh deployment, a filtered-to-nothing partition, or a
    not-yet-landed feed must produce empty (or grand-total-only)
    results, not crashes. The first sweep found three divergences, all
    fixed and pinned here: maintenance_report_tables crashed on the
    NULL key domain ((lo+hi)//2 over no rows — now an empty report
    below 512 rows, where the 16-way seed invariant holds, oracle
    gated identically), and Spark's cube/rollup drop the ANSI
    grand-total () row over empty input (PostgreSQL/DuckDB emit it —
    now an explicit always-one-row union branch)."""
    import pyarrow.parquet as pq

    d = tmp_path / "empty"
    d.mkdir()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        sch = pq.read_schema(f"{SF_SMALL}/{name}.parquet")
        pq.write_table(sch.empty_table(), str(d / f"{name}.parquet"))
    _sweep_all_queries(spark, str(d), "empty")


def test_single_row_corpus_parity(spark, tmp_path):
    """Oracle parity for EVERY registered query when every table holds
    exactly ONE row — the degenerate-statistics edge the NULL-injection
    and empty sweeps both miss: zero variances, single-element index
    trainings, self-pair-free dedup, n=1 windows. The first sweep found
    two crashes, fixed and pinned here: exact_moment_correlation's
    zero-variance group made sqrt() see a -1ulp double and floor() of
    the resulting NaN abort under ANSI (now variance terms clamp at 0
    and a zero denominator yields NULL correlation in both engines),
    and maintenance_report_tables' 16-way seed wrote one file, not 16
    (now the n_rows >= 512 gate, see test_empty_corpus_parity)."""
    d = tmp_path / "one"
    d.mkdir()
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/{name}.parquet')"
            f" LIMIT 1) TO '{d}/{name}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    _sweep_all_queries(spark, str(d), "single-row")


def test_extreme_timestamp_corpus_parity(spark, tmp_path):
    """Oracle parity for EVERY registered query when timestamps sit at
    the representable extremes: pre-1970 negative epochs (1678, 1900,
    1969-12-31 23:59:59.999999), epoch zero, and the far future just
    under the pandas nanosecond ceiling (2262-04-11). Pins two things
    the NULL/empty/single-row sweeps cannot:

    * negative-epoch bucketing — Spark's `div` and DuckDB's `//` BOTH
      truncate toward zero on negative integers (verified: -7 div 2 =
      -3 in each, where Python's // floors to -4), so every
      `epoch_us // width` / `unix_micros div width` bucket pair
      agrees on pre-1970 rows; the tumbling/sliding/session window
      queries all ride this shared convention;
    * bounded gap-fill — the first run of this sweep killed
      gap_fill_hourly_locf with TaskResultLost: its dense per-user
      min..max spine became ~5M hourly slots once one user held both a
      1678 and a 2262 observation. The operator now caps synthesized
      runs at MAX_FILL_HOURS per gap (series break across longer
      holes), making fan-out O(observations × cap) whatever the data.

    The ceiling value is 2262-04-10, not the exact 2262-04-11 23:47:16
    maximum: derived outputs (tumbling window ENDs, +interval arith)
    must stay under the ceiling too, or toPandas/DuckDB-to-pandas
    overflows — a bridge representability limit, not an engine one
    (Spark computes year-9999 timestamps fine; only the ns-backed
    pandas comparison harness cannot hold them)."""
    import shutil

    d = tmp_path / "extreme_ts"
    d.mkdir()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    )
    for name in tables:
        shutil.copy(f"{SF_SMALL}/{name}.parquet", d / f"{name}.parquet")
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN event_id % 211 = 0
                     THEN TIMESTAMP '1678-01-01 00:00:00'
                 WHEN event_id % 199 = 0
                     THEN TIMESTAMP '1900-06-15 12:34:56.123456'
                 WHEN event_id % 193 = 0
                     THEN TIMESTAMP '1970-01-01 00:00:00'
                 WHEN event_id % 191 = 0
                     THEN TIMESTAMP '1969-12-31 23:59:59.999999'
                 WHEN event_id % 181 = 0
                     THEN TIMESTAMP '2262-01-01 01:02:03.000004'
                 WHEN event_id % 179 = 0
                     THEN TIMESTAMP '2262-04-10 10:11:12'
                 ELSE ts END AS ts)
         FROM read_parquet('{SF_SMALL}/events.parquet'))
         TO '{d}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN o_orderkey % 97 = 0
                     THEN TIMESTAMP '1678-06-01 00:00:00'
                 WHEN o_orderkey % 89 = 0
                     THEN TIMESTAMP '2262-03-01 00:00:00'
                 ELSE o_orderdate END AS o_orderdate)
         FROM read_parquet('{SF_SMALL}/orders.parquet'))
         TO '{d}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN l_orderkey % 151 = 0
                     THEN TIMESTAMP '1690-02-03 04:05:06'
                 WHEN l_orderkey % 149 = 0
                     THEN TIMESTAMP '2261-11-30 23:59:59'
                 ELSE l_shipdate END AS l_shipdate)
         FROM read_parquet('{SF_SMALL}/lineitem.parquet'))
         TO '{d}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    _sweep_all_queries(spark, str(d), "extreme-timestamp")


def test_unicode_corpus_parity(spark, tmp_path):
    """Oracle parity for EVERY registered query on a unicode-zoo
    corpus: emoji and astral-plane letters (4-byte UTF-8), ZWJ
    family sequences, combining accents, RTL Arabic/Hebrew, spaceless
    CJK runs, NBSP/ideographic-space whitespace variants, and repeated
    4-byte runs — spliced into document text, part names, event types,
    and props JSON values. Pins codepoint-vs-byte agreement across
    every string path: length/substring (both engines codepoint),
    binary string comparison, UTF-8 md5/fingerprinting, regex/token
    splits, JSON key masking over non-ASCII values, and the
    levenshtein byte-distance contract — the first run of this sweep
    caught fuzzy_part_match drifting 2 rows because Spark's
    levenshtein counts codepoints while DuckDB's counts UTF-8 bytes
    (now pinned byte-level via a latin-1 bytes view on the Spark
    side)."""
    import shutil

    d = tmp_path / "unicode"
    d.mkdir()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    )
    for name in tables:
        shutil.copy(f"{SF_SMALL}/{name}.parquet", d / f"{name}.parquet")
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN doc_id % 31 = 0 THEN '🦄 unicorn 🌈 ' || text
                 WHEN doc_id % 37 = 0 THEN text || ' 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝕊𝕡𝕒𝕣𝕜 end'
                 WHEN doc_id % 41 = 0
                     THEN '👨‍👩‍👧‍👦 family ' || text || ' 👩🏽‍🚀'
                 WHEN doc_id % 43 = 0 THEN 'café résumé naïve ' || text
                 WHEN doc_id % 47 = 0
                     THEN 'مرحبا بالعالم עולם שלום ' || text
                 WHEN doc_id % 53 = 0
                     THEN '速い茶色の狐が怠け者の犬を飛び越える' || text
                 WHEN doc_id % 59 = 0 THEN 'no break　ideographic ' || text
                 WHEN doc_id % 61 = 0
                     THEN chr(120) || repeat('💩', 50) || ' ' || text
                 ELSE text END AS text)
         FROM read_parquet('{SF_SMALL}/documents.parquet'))
         TO '{d}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN p_partkey % 67 = 0 THEN 'grüne Öl‑Lampe ' || p_name
                 WHEN p_partkey % 71 = 0 THEN p_name || ' 零件'
                 WHEN p_partkey % 73 = 0 THEN '🚀 ' || p_name
                 ELSE p_name END AS p_name)
         FROM read_parquet('{SF_SMALL}/part.parquet'))
         TO '{d}/part.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN event_id % 83 = 0 THEN 'クリック'
                 WHEN event_id % 79 = 0 THEN 'click✨'
                 ELSE event_type END AS event_type,
            CASE WHEN event_id % 89 = 0
                     THEN '{{"k": "värde📦", "name": "名前"}}'
                 ELSE props END AS props)
         FROM read_parquet('{SF_SMALL}/events.parquet'))
         TO '{d}/events.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    _sweep_all_queries(spark, str(d), "unicode")


#: queries exempt from the RAW nonfinite sweep: DECIMAL-quantized
#: price/revenue analytics whose input columns are DECIMAL(15,2) in
#: the source-of-truth schema (TPC-H types l_extendedprice/l_discount/
#: o_totalprice as exact decimals; the parquet testdata stores them as
#: double). A NaN/Inf there is an ingest defect, cleansed by
#: fn/cleansing.null_nonfinite BEFORE analytics — which the sanitized
#: sweep below proves sufficient: after that one pass all 157 match.
#: (Engines also fail differently on the raw values: Spark's
#: double→decimal cast NULLs nonfinite silently but aborts on 1e308,
#: DuckDB aborts on both — another reason the contract lives at
#: ingest, not in 15 copies of a guard.)
NONFINITE_EXEMPT = frozenset(
    {
        "broadcast_brand_revenue",
        "dense_rank_order_values",
        "exact_moment_correlation",
        "grouping_sets_status_priority",
        "q10_returned_items",
        "q14_promo_effect",
        "q15_top_revenue_supplier",
        "q19_disjunctive_revenue",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q6_forecast_revenue",
        "q8_market_share",
        "q9_nation_year_profit",
        "range_join_ship_periods",
        "top_parts_per_brand",
    }
)


def _write_nonfinite_corpus(src: str, dst) -> None:
    """Copy ``src`` tables into ``dst`` with IEEE extremes spliced into
    every float surface: NaN, ±Inf, ±1e308, a denormal, and -0.0 in
    events.value; NaN/-0.0/±Inf in order/lineitem prices; NaN/Inf
    elements inside embedding vectors."""
    import shutil

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{src}/{name}.parquet", dst / f"{name}.parquet")
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN event_id % 211 = 0 THEN 'NaN'::DOUBLE
                 WHEN event_id % 199 = 0 THEN 'Infinity'::DOUBLE
                 WHEN event_id % 193 = 0 THEN '-Infinity'::DOUBLE
                 WHEN event_id % 191 = 0 THEN 1e308
                 WHEN event_id % 181 = 0 THEN -1e308
                 WHEN event_id % 179 = 0
                     THEN 4.9406564584124654e-324
                 WHEN event_id % 173 = 0 THEN -0.0
                 ELSE value END AS value)
         FROM read_parquet('{src}/events.parquet'))
         TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN l_orderkey % 151 = 0 THEN 'NaN'::DOUBLE
                 WHEN l_orderkey % 149 = 0 THEN 'Infinity'::DOUBLE
                 ELSE l_extendedprice END AS l_extendedprice,
            CASE WHEN l_orderkey % 139 = 0 THEN 'NaN'::DOUBLE
                 WHEN l_orderkey % 137 = 0 THEN -0.0
                 ELSE l_discount END AS l_discount)
         FROM read_parquet('{src}/lineitem.parquet'))
         TO '{dst}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN o_orderkey % 97 = 0 THEN 'NaN'::DOUBLE
                 WHEN o_orderkey % 89 = 0 THEN 'Infinity'::DOUBLE
                 WHEN o_orderkey % 83 = 0 THEN -0.0
                 ELSE o_totalprice END AS o_totalprice)
         FROM read_parquet('{src}/orders.parquet'))
         TO '{dst}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN vec_id % 157 = 0 THEN
                     list_transform(embedding,
                         x -> CASE WHEN x < 0 THEN 'NaN'::FLOAT
                                   ELSE x END)
                 WHEN vec_id % 163 = 0 THEN
                     list_transform(embedding,
                         x -> CASE WHEN x < 0 THEN 'Infinity'::FLOAT
                                   ELSE x END)
                 ELSE embedding END AS embedding)
         FROM read_parquet('{src}/embeddings.parquet'))
         TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.close()


def test_nonfinite_corpus_parity(spark, tmp_path):
    """Oracle parity on RAW dirty floats (NaN/±Inf/±1e308/denormal/
    -0.0 across events.value, prices, and embedding coordinates) for
    every query outside NONFINITE_EXEMPT. What the first run of this
    sweep surfaced, now pinned:

    * the similarity family's shared validation gate grew a
      finiteness leg (one NaN coordinate aborted every quantized
      index path under ANSI);
    * the table profiles canonicalize dirty-double statistics
      ('NaN'/'Infinity'/±0 rendering, hash input, distinct input)
      instead of inheriting each engine's spelling;
    * the histogram/quantile operators clamp bins inside ±2^40 and
      exclude nonfinite values (Spark's floor(double→long) SATURATES
      where DuckDB's cast ABORTS — the clamp pins one behaviour);
    * the fixed-point quantized aggregates share
      fn/cleansing.in_quant_domain (|value| < 10^4, NULL rows kept);
    * exact percentiles exclude nonfinite prices (Spark ranks NaN
      top; DuckDB returns NULL for the whole group)."""
    d = tmp_path / "nonfinite"
    d.mkdir()
    _write_nonfinite_corpus(SF_SMALL, d)
    _sweep_all_queries(spark, str(d), "nonfinite", exempt=NONFINITE_EXEMPT)


def test_sanitized_nonfinite_corpus_parity(spark, tmp_path):
    """The finite-floats ingest contract, END TO END: take the same
    dirty corpus and run ONE cleansing pass (nonfinite → NULL, the
    float analogue of the reference's NULL-on-bad-date rule) — then
    ALL queries, including the NONFINITE_EXEMPT price analytics, must
    hash-match their oracles. This is the proof that the documented
    contract is sufficient, not aspirational. The corpus here is
    sanitized by DuckDB SQL; test_sanitize_nonfinite_spark_equivalence
    pins the engine's own fn/cleansing.sanitize_nonfinite to the
    identical mapping."""
    dirty = tmp_path / "dirty"
    clean = tmp_path / "clean"
    dirty.mkdir()
    clean.mkdir()
    _write_nonfinite_corpus(SF_SMALL, dirty)
    import shutil

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        shutil.copy(f"{dirty}/{name}.parquet", clean / f"{name}.parquet")
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN isfinite(value) THEN value END AS value)
         FROM read_parquet('{dirty}/events.parquet'))
         TO '{clean}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END
                AS l_extendedprice,
            CASE WHEN isfinite(l_discount) THEN l_discount END
                AS l_discount)
         FROM read_parquet('{dirty}/lineitem.parquet'))
         TO '{clean}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN isfinite(o_totalprice) THEN o_totalprice END
                AS o_totalprice)
         FROM read_parquet('{dirty}/orders.parquet'))
         TO '{clean}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            list_transform(embedding,
                x -> CASE WHEN isfinite(x) THEN x END) AS embedding)
         FROM read_parquet('{dirty}/embeddings.parquet'))
         TO '{clean}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    _sweep_all_queries(spark, str(clean), "sanitized-nonfinite")


def test_sanitize_nonfinite_spark_equivalence(spark, tmp_path):
    """fn/cleansing.sanitize_nonfinite (the engine's ingest-side pass)
    maps the dirty corpus to EXACTLY what the oracle-side DuckDB
    sanitization produced: scalar doubles and embedding elements
    agree row-for-row, including the kept denormal and -0.0 (finite
    values pass through untouched)."""
    from data_ingestion_from_multiple_directories_linux_spark.functions.cleansing import (
        sanitize_nonfinite,
    )

    d = tmp_path / "dirty"
    d.mkdir()
    _write_nonfinite_corpus(SF_SMALL, d)

    got = (
        sanitize_nonfinite(spark.read.parquet(f"{d}/events.parquet"))
        .orderBy("event_id")
        .toPandas()
    )
    con = duckdb.connect()
    want = con.execute(
        f"""SELECT * REPLACE (
                CASE WHEN isfinite(value) THEN value END AS value)
            FROM read_parquet('{d}/events.parquet')
            ORDER BY event_id"""
    ).df()
    assert canonical_rows(got) == canonical_rows(want)

    # embeddings: explode to scalars IN-ENGINE (pandas renders a null
    # list element as NaN, erasing the distinction this test is about),
    # assert no nonfinite element survives, then compare exploded rows
    import pyspark.sql.functions as F

    sane = sanitize_nonfinite(
        spark.read.parquet(f"{d}/embeddings.parquet")
    )
    survivors = sane.filter(
        F.exists(
            "embedding",
            lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
        )
    ).count()
    assert survivors == 0
    got_e = (
        sane.select(
            "vec_id", F.posexplode_outer("embedding").alias("pos", "x")
        )
        .toPandas()
    )
    want_e = con.execute(
        f"""SELECT vec_id, CAST(p.i AS BIGINT) AS pos,
                   CASE WHEN isfinite(p.v) THEN p.v END AS x
            FROM (SELECT vec_id,
                         unnest(list_transform(
                             range(len(embedding)),
                             i -> {{'i': i, 'v': embedding[i+1]}})) AS p
                  FROM read_parquet('{d}/embeddings.parquet'))"""
    ).df()
    con.close()
    assert len(got_e) == len(want_e)
    assert canonical_rows(got_e) == canonical_rows(want_e)


def test_combined_extremes_corpus_parity(spark, tmp_path):
    """Cross-AXIS parity: one corpus carrying the nonfinite floats,
    the extreme timestamps, AND the unicode zoo simultaneously — the
    single-axis sweeps cannot see interactions (e.g. a quant-domain
    filter meeting a 2262 timestamp in the same row, or a NaN value
    on a pre-1970 event). Every query outside NONFINITE_EXEMPT must
    still hash-match its oracle. First run: zero divergences — kept
    as the permanent regression net because the threaded sweep costs
    about a minute."""
    d = tmp_path / "combo"
    d.mkdir()
    _write_nonfinite_corpus(SF_SMALL, d)
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN event_id % 211 = 0
                     THEN TIMESTAMP '1678-01-01 00:00:00'
                 WHEN event_id % 199 = 0
                     THEN TIMESTAMP '1900-06-15 12:34:56.123456'
                 WHEN event_id % 193 = 0
                     THEN TIMESTAMP '1970-01-01 00:00:00'
                 WHEN event_id % 191 = 0
                     THEN TIMESTAMP '1969-12-31 23:59:59.999999'
                 WHEN event_id % 181 = 0
                     THEN TIMESTAMP '2262-01-01 01:02:03.000004'
                 WHEN event_id % 179 = 0
                     THEN TIMESTAMP '2262-04-10 10:11:12'
                 ELSE ts END AS ts,
            CASE WHEN event_id % 83 = 0 THEN 'クリック'
                 WHEN event_id % 79 = 0 THEN 'click✨'
                 ELSE event_type END AS event_type,
            CASE WHEN event_id % 89 = 0
                     THEN '{{"k": "värde📦", "name": "名前"}}'
                 ELSE props END AS props)
         FROM read_parquet('{d}/events.parquet'))
         TO '{d}/events2.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN o_orderkey % 97 = 0
                     THEN TIMESTAMP '1678-06-01 00:00:00'
                 WHEN o_orderkey % 89 = 0
                     THEN TIMESTAMP '2262-03-01 00:00:00'
                 ELSE o_orderdate END AS o_orderdate)
         FROM read_parquet('{d}/orders.parquet'))
         TO '{d}/orders2.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN l_orderkey % 151 = 0
                     THEN TIMESTAMP '1690-02-03 04:05:06'
                 WHEN l_orderkey % 149 = 0
                     THEN TIMESTAMP '2261-11-30 23:59:59'
                 ELSE l_shipdate END AS l_shipdate)
         FROM read_parquet('{d}/lineitem.parquet'))
         TO '{d}/lineitem2.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN doc_id % 31 = 0 THEN '🦄 unicorn 🌈 ' || text
                 WHEN doc_id % 43 = 0 THEN 'café résumé naïve ' || text
                 WHEN doc_id % 53 = 0
                     THEN '速い茶色の狐が怠け者の犬を飛び越える' || text
                 WHEN doc_id % 61 = 0
                     THEN chr(120) || repeat('💩', 50) || ' ' || text
                 ELSE text END AS text)
         FROM read_parquet('{d}/documents.parquet'))
         TO '{d}/documents2.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN p_partkey % 67 = 0 THEN 'grüne Öl‑Lampe ' || p_name
                 WHEN p_partkey % 73 = 0 THEN '🚀 ' || p_name
                 ELSE p_name END AS p_name)
         FROM read_parquet('{d}/part.parquet'))
         TO '{d}/part2.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    import os

    for name in ("events", "orders", "lineitem", "documents", "part"):
        os.replace(d / f"{name}2.parquet", d / f"{name}.parquet")
    _sweep_all_queries(spark, str(d), "combined-extremes",
                       exempt=NONFINITE_EXEMPT)


def test_gap_fill_bounded_fanout(spark, tmp_path):
    """The MAX_FILL_HOURS cap directly: one user observed in 1678 and
    2262 produces cap+1 slots after the early observation plus the late
    observation's own slot — NOT the ~5.1M-slot dense span — and the
    late value is NOT carried backward nor the early one across the
    break."""
    import duckdb as _duck

    from data_ingestion_from_multiple_directories_linux_spark.operators.timeseries import (
        MAX_FILL_HOURS,
        gap_fill_hourly_locf,
    )

    d = tmp_path / "two_obs"
    d.mkdir()
    con = _duck.connect()
    con.execute(
        f"""COPY (SELECT * FROM (VALUES
            (1, TIMESTAMP '1678-01-01 00:30:00', 7, 'click', 1.5, '{{}}'),
            (2, TIMESTAMP '2262-04-10 10:11:12', 7, 'click', 9.25, '{{}}'))
            t(event_id, ts, user_id, event_type, value, props))
            TO '{d}/events.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    out = gap_fill_hourly_locf(spark, str(d)).toPandas()
    assert len(out) == MAX_FILL_HOURS + 2
    assert out["is_gap"].sum() == MAX_FILL_HOURS
    filled = sorted(out["filled_value"].unique())
    assert filled == [1.5, 9.25]
    assert (out[out["is_gap"]]["filled_value"] == 1.5).all()


def test_gap_fill_fuzz_vs_python_reference(spark, tmp_path):
    """Seeded fuzz of the redesigned gap-fill against a pure-Python
    reference of the documented contract (~180k output slots from 60
    random series): truncation-toward-zero hour bucketing (the Spark
    `div` / DuckDB `//` convention on negative epochs), latest-in-hour
    selection by (ts, event_id), per-observation spines capped at
    MAX_FILL_HOURS with series breaks, LOCF across observed-NULL
    hours, and the is_gap rule. Series include violent ±2.3M-hour
    jumps (capped breaks), 1-3 observations inside one hour, NULL
    values, and NULL timestamps (which vanish). The oracle-parity
    sweeps prove Spark==DuckDB; this pins both to the INTENDED
    semantics (two engines can agree on the wrong thing)."""
    import random

    from data_ingestion_from_multiple_directories_linux_spark.operators.timeseries import (
        HOUR_US,
        MAX_FILL_HOURS,
        gap_fill_hourly_locf,
    )

    rng = random.Random(20260815)
    rows = []
    eid = 1
    for user in range(1, 61):
        h = rng.randrange(-2_000_000, 2_000_000)
        hours = set()
        for _ in range(rng.randrange(1, 21)):
            if rng.random() < 0.08:
                h = rng.randrange(-2_300_000, 2_300_000)
            else:
                h += rng.randrange(0, 400)
            hours.add(h)
        for hr in hours:
            for _ in range(rng.randrange(1, 4)):
                val = (
                    None
                    if rng.random() < 0.15
                    else round(rng.uniform(-500, 500), 3)
                )
                ts_us = hr * HOUR_US + rng.randrange(0, HOUR_US)
                if rng.random() < 0.02:
                    ts_us = None
                rows.append((eid, ts_us, user, "e", val, "{}"))
                eid += 1

    df = pd.DataFrame(
        rows,
        columns=["event_id", "ts_us", "user_id", "event_type", "value", "props"],
    )
    df["ts"] = pd.to_datetime(df["ts_us"], unit="us")
    pdf = df[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    d = tmp_path / "gapfuzz"
    d.mkdir()
    con = duckdb.connect()
    con.register("t", pdf)
    con.execute(
        f"COPY (SELECT * FROM t) TO '{d}/events.parquet' (FORMAT PARQUET)"
    )
    con.close()

    def tdiv(a, b):  # truncation toward zero — Spark div / DuckDB //
        return a // b if a >= 0 else -((-a) // b)

    best = {}
    for eid_, ts_us, user, _, val, _ in rows:
        if ts_us is None:
            continue
        key = (user, tdiv(ts_us, HOUR_US))
        if key not in best or (ts_us, eid_) > best[key][:2]:
            best[key] = (ts_us, eid_, val)
    series = {}
    for (user, hr), (_, _, val) in best.items():
        series.setdefault(user, []).append((hr, val))
    expected = []
    for user, obs in series.items():
        obs.sort()
        carry = None
        for i, (hr, val) in enumerate(obs):
            nxt = obs[i + 1][0] if i + 1 < len(obs) else None
            end = hr if nxt is None else min(nxt - 1, hr + MAX_FILL_HOURS)
            for slot in range(hr, end + 1):
                if slot == hr and val is not None:
                    carry = val
                expected.append(
                    (user, slot, carry, slot != hr or val is None)
                )

    got = gap_fill_hourly_locf(spark, str(d)).toPandas()
    got_t = sorted(
        (
            int(r.user_id),
            int(r.hr),
            None if pd.isna(r.filled_value) else round(float(r.filled_value), 9),
            bool(r.is_gap),
        )
        for r in got.itertuples()
    )
    exp_t = sorted(
        (u, s, None if c is None else round(float(c), 9), g)
        for (u, s, c, g) in expected
    )
    assert len(got_t) == len(exp_t)
    assert got_t == exp_t


def test_profile_sketch_fuzz_vs_python_reference(spark, tmp_path):
    """Seeded fuzz of BOTH table profiles against an independent
    pure-Python reference (hashlib.md5 + exact-integer (a·h) mod 2^60
    variates + the K-min estimator): the DuckDB oracles share Spark's
    md5-string construction, so a shared misconception (wrong string
    form, wrong modulus split) would pass the oracle gate — this pins
    the absolute semantics. The 1200-row random orders corpus splices
    NaN/±Inf/-0.0 into o_totalprice, exercising the canonical
    dirty-double form on the hash, distinct, and estimate paths; all
    six columns' n_rows/n_nonnull/n_distinct and the sketch estimate
    must match the reference exactly."""
    import hashlib
    import math
    import random

    from data_ingestion_from_multiple_directories_linux_spark.operators.profiling import (
        PROFILE_SKETCH_K,
        _SKETCH_A,
        table_profile_orders,
        table_profile_orders_sketch,
    )

    h60_mod = 1 << 60
    rng = random.Random(99)
    statuses = ["O", "F", "P"]
    prios = [
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW", None,
    ]
    rows = []
    for k in range(1, 1201):
        price = (
            None if rng.random() < 0.1 else round(rng.uniform(1, 500000), 2)
        )
        ts = (
            f"20{rng.randrange(10, 30):02d}-0{rng.randrange(1, 10)}"
            f"-1{rng.randrange(0, 10)} 0{rng.randrange(0, 10)}:00:00"
        )
        rows.append(
            (k, rng.randrange(1, 300), rng.choice(statuses), price, ts,
             rng.choice(prios))
        )
    pdf = pd.DataFrame(
        rows,
        columns=["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    pdf["o_orderdate"] = pd.to_datetime(pdf["o_orderdate"])
    d = tmp_path / "sketchfuzz"
    d.mkdir()
    con = duckdb.connect()
    con.register("t", pdf)
    # splice IEEE specials in SQL — a pandas float column cannot hold
    # None and NaN distinctly
    con.execute(
        f"""COPY (SELECT * REPLACE (
            CASE WHEN o_orderkey % 97 = 0 THEN 'NaN'::DOUBLE
                 WHEN o_orderkey % 89 = 0 THEN 'Infinity'::DOUBLE
                 WHEN o_orderkey % 83 = 0 THEN '-Infinity'::DOUBLE
                 WHEN o_orderkey % 79 = 0 THEN -0.0
                 ELSE o_totalprice END AS o_totalprice)
            FROM t) TO '{d}/orders.parquet' (FORMAT PARQUET)"""
    )
    final = con.execute(
        f"SELECT * FROM read_parquet('{d}/orders.parquet')"
    ).fetchall()
    con.close()

    def canon(col, v):
        if v is None:
            return None
        if col == "o_totalprice":
            if math.isnan(v):
                return "NaN"
            if v == float("inf"):
                return "Infinity"
            if v == float("-inf"):
                return "-Infinity"
            if v == 0:
                return "0.0"
            return repr(v)
        if col == "o_orderdate":
            return v.strftime("%Y-%m-%d %H:%M:%S")
        return str(v)

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    expected = {}
    for ci, c in enumerate(cols):
        mins = [h60_mod] * PROFILE_SKETCH_K
        n_nonnull = 0
        distinct = set()
        for r in final:
            s = canon(c, r[ci])
            if s is None:
                continue
            n_nonnull += 1
            distinct.add(s)
            h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            for i, a in enumerate(_SKETCH_A):
                v = (a * h) % h60_mod
                if v < mins[i]:
                    mins[i] = v
        est = (
            math.floor(
                (PROFILE_SKETCH_K * float(h60_mod) / float(sum(mins)) - 1)
                * 1e6 + 0.5
            ) / 1e6
        )
        expected[c] = (len(final), n_nonnull, len(distinct), est)

    exact = table_profile_orders(spark, str(d)).toPandas().set_index(
        "column_name"
    )
    sk = table_profile_orders_sketch(spark, str(d)).toPandas().set_index(
        "column_name"
    )
    for c in cols:
        n, nn, nd, est = expected[c]
        e, s = exact.loc[c], sk.loc[c]
        assert (e.n_rows, e.n_nonnull, e.n_distinct) == (n, nn, nd), c
        assert (s.n_rows, s.n_nonnull) == (n, nn), c
        assert abs(s.estimate_distinct - est) < 1e-9, c


def test_kmv_and_simhash_fuzz_vs_python_reference(spark, tmp_path):
    """Seeded fuzz of the KMV distinct sketch and the 16-bit SimHash
    against independent hashlib-based pure-Python references (same
    rationale as the profile-sketch fuzz: the DuckDB oracles share the
    md5 construction, so only a third implementation pins the absolute
    semantics). The corpus sprinkles NULL user_ids (excluded by the
    KMV NULL contract) and NULL/empty/whitespace documents (which
    produce no fingerprint row)."""
    import hashlib
    import random
    import re

    from data_ingestion_from_multiple_directories_linux_spark.operators.sketches import (
        KMV_K,
        kmv_distinct_users,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.text_analysis import (
        simhash_fingerprint,
    )

    h60_mod = 1 << 60
    rng = random.Random(424242)
    erows = []
    for i in range(1, 901):
        uid = None if rng.random() < 0.05 else rng.randrange(1, 220)
        erows.append(
            (i, f"2024-01-{rng.randrange(1, 29):02d} 10:00:00", uid, "e",
             1.0, "{}")
        )
    ev = pd.DataFrame(
        erows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    ev["ts"] = pd.to_datetime(ev["ts"])
    ev["user_id"] = ev["user_id"].astype("Int64")
    words = [f"w{n}" for n in range(400)] + ["alpha", "beta", "Gamma"]
    drows = []
    for i in range(1, 301):
        r = rng.random()
        if r < 0.03:
            text = None
        elif r < 0.06:
            text = ""
        elif r < 0.09:
            text = "   "
        else:
            text = " ".join(
                rng.choice(words) for _ in range(rng.randrange(1, 40))
            )
        drows.append((i, text, "en", "src", len(text or "")))
    docs = pd.DataFrame(
        drows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = tmp_path / "kmvfuzz"
    d.mkdir()
    con = duckdb.connect()
    con.register("e", ev)
    con.register("d", docs)
    con.execute(f"COPY (SELECT * FROM e) TO '{d}/events.parquet' (FORMAT PARQUET)")
    con.execute(
        f"COPY (SELECT * FROM d) TO '{d}/documents.parquet' (FORMAT PARQUET)"
    )
    con.close()

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    uids = sorted({r[2] for r in erows if r[2] is not None})
    kset = sorted(h60(str(u)) / float(h60_mod) for u in uids)[:KMV_K]
    kth = max(kset)
    est = (len(kset) - 1) / kth
    got = kmv_distinct_users(spark, str(d)).collect()[0]
    assert got.k == len(kset)
    assert abs(got.kth_hash - kth) < 1e-15
    assert abs(got.estimate_distinct - est) < 1e-9
    assert got.exact_distinct == len(uids)

    def ref_simhash(text):
        # Java \s+ on ASCII text == Python re.ASCII \s+
        toks = {
            t
            for t in re.split(r"\s+", text.lower(), flags=re.ASCII)
            if t
        }
        if not toks:
            return None
        votes = [0] * 16
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest()
            for j in range(16):
                votes[j] += (int(hx[j], 16) % 2) * 2 - 1
        return sum(1 << j for j in range(16) if votes[j] > 0)

    exp = {}
    for i, text, *_ in drows:
        fp = ref_simhash(text) if text is not None else None
        if fp is not None:
            exp[i] = fp
    sim = {
        r.doc_id: r.simhash
        for r in simhash_fingerprint(spark, str(d)).collect()
    }
    assert sim == exp


def test_count_min_fuzz_vs_python_reference(spark, tmp_path):
    """Seeded fuzz of the count-min heavy-hitter audit against an
    independent hashlib reference: per-row md5 bucket hashes, cell
    counts, min-over-depth estimates, and the one-sided overestimate.
    Also documents a shared cross-engine quirk the reference must
    reproduce: a heavy NULL key OCCUPIES one of the top-k audit slots
    (it outranks real users in the count ordering) and is then dropped
    by the cell joins (NULL bucket matches nothing), so the audit
    reports k-1 rows — identical in Spark and DuckDB."""
    import hashlib
    import math
    import random
    from collections import Counter

    from data_ingestion_from_multiple_directories_linux_spark.operators.profiling import (
        CM_DEPTH,
        CM_TOP_K,
        CM_WIDTH,
        count_min_heavy_hitters,
    )

    rng = random.Random(777)
    pool = [1] * 90 + [2] * 60 + [3] * 40 + list(range(4, 200)) * 2
    erows = []
    for i in range(1, 1201):
        uid = None if rng.random() < 0.04 else rng.choice(pool)
        erows.append((i, "2024-02-02 10:00:00", uid, "e", 1.0, "{}"))
    ev = pd.DataFrame(
        erows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    ev["ts"] = pd.to_datetime(ev["ts"])
    ev["user_id"] = ev["user_id"].astype("Int64")
    d = tmp_path / "cmfuzz"
    d.mkdir()
    con = duckdb.connect()
    con.register("e", ev)
    con.execute(f"COPY (SELECT * FROM e) TO '{d}/events.parquet' (FORMAT PARQUET)")
    con.close()

    def cmh(j, uid):
        return (
            int(hashlib.md5(f"cm{j}:{uid}".encode()).hexdigest()[:15], 16)
            % CM_WIDTH
        )

    counts = Counter(r[2] for r in erows)
    cells = Counter()
    for r in erows:
        if r[2] is None:
            continue
        for j in range(CM_DEPTH):
            cells[(j, cmh(j, r[2]))] += 1
    topk = sorted(
        counts.items(),
        key=lambda kv: (-kv[1], math.inf if kv[0] is None else kv[0]),
    )[:CM_TOP_K]
    assert any(u is None for u, _ in topk)  # the quirk is exercised
    expected = []
    for u, n in topk:
        if u is None:
            continue
        est = min(cells[(j, cmh(j, u))] for j in range(CM_DEPTH))
        expected.append((u, n, est, est - n))

    got = [
        (r.user_id, r.true_n, r.cm_estimate, r.overestimate)
        for r in count_min_heavy_hitters(spark, str(d)).collect()
    ]
    assert got == expected
    assert len(got) == CM_TOP_K - 1


def test_rolling_hash_fuzz_vs_python_reference(spark, tmp_path):
    """Seeded fuzz of the winnowing-lite rolling-hash fingerprint
    against a hashlib reference: every 4th 16-char window's md5, the
    window/distinct counts, and the min-hash fingerprint. The corpus
    mixes unicode (windows slice CODEPOINTS in Spark, DuckDB, and
    Python alike, then md5 the UTF-8 bytes), empty strings (one window
    of ''), sub-16-char texts (one short window), and NULL texts
    (NULL row, per the adversarial-corpus contract)."""
    import hashlib
    import random

    from data_ingestion_from_multiple_directories_linux_spark.operators.text_analysis import (
        rolling_hash_fingerprint,
    )

    rng = random.Random(31337)
    alphabet = "abcdefgh ijklmnop💩é零 XYZ.,!"
    drows = []
    for i in range(1, 201):
        r = rng.random()
        if r < 0.04:
            text = None
        elif r < 0.08:
            text = ""
        elif r < 0.16:
            text = "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 15)))
        else:
            text = "".join(rng.choice(alphabet) for _ in range(rng.randrange(16, 400)))
        drows.append((i, text, "en", "src", len(text or "")))
    docs = pd.DataFrame(
        drows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = tmp_path / "rollfuzz"
    d.mkdir()
    con = duckdb.connect()
    con.register("d", docs)
    con.execute(
        f"COPY (SELECT * FROM d) TO '{d}/documents.parquet' (FORMAT PARQUET)"
    )
    con.close()

    expected = {}
    for i, text, *_ in drows:
        if text is None:
            expected[i] = (None, None, None)
            continue
        ws = [
            hashlib.md5(text[j : j + 16].encode()).hexdigest()
            for j in range(0, max(len(text) - 15, 1), 4)
        ]
        expected[i] = (len(ws), len(set(ws)), min(ws))

    got = {
        r.doc_id: (
            None if r.n_windows is None else int(r.n_windows),
            None if r.n_distinct is None else int(r.n_distinct),
            r.fingerprint,
        )
        for r in rolling_hash_fingerprint(spark, str(d)).collect()
    }
    assert got == expected


def test_table_fingerprint_fuzz_vs_python_reference(spark, tmp_path):
    """Seeded fuzz of the order-independent content checksum against a
    hashlib reference: the chr(1)-sentinel/chr(31)-separator canonical
    row form, the md5 60-bit prefix, and the exact integer group sums
    (compared as digit strings). NULL keys, NULL priorities, and a
    NULL status group are all present; a text payload containing '|'
    (the rejected separator) guards the encoding choice."""
    import hashlib
    import random
    from collections import Counter, defaultdict

    from data_ingestion_from_multiple_directories_linux_spark.operators.sketches import (
        table_fingerprint,
    )

    rng = random.Random(5150)
    prios = ["1-URGENT", "2|HIGH", "3-MEDIUM", None]
    statuses = ["O", "F", None]
    rows = []
    for k in range(1, 501):
        rows.append(
            (
                k,
                None if rng.random() < 0.08 else rng.randrange(1, 80),
                rng.choice(statuses),
                100.0,
                "2024-03-03 00:00:00",
                rng.choice(prios),
            )
        )
    pdf = pd.DataFrame(
        rows,
        columns=["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    pdf["o_orderdate"] = pd.to_datetime(pdf["o_orderdate"])
    pdf["o_custkey"] = pdf["o_custkey"].astype("Int64")
    d = tmp_path / "fpfuzz"
    d.mkdir()
    con = duckdb.connect()
    con.register("t", pdf)
    con.execute(f"COPY (SELECT * FROM t) TO '{d}/orders.parquet' (FORMAT PARQUET)")
    con.close()

    sums = defaultdict(int)
    counts = Counter()
    for k, ck, st, _, _, pr in rows:
        canon = "\x1f".join(
            "\x01" if v is None else str(v) for v in (k, ck, pr)
        )
        h = int(hashlib.md5(canon.encode()).hexdigest()[:15], 16)
        sums[st] += h
        counts[st] += 1

    got = {
        r.status: (r.n_rows, r.content_hash)
        for r in table_fingerprint(spark, str(d)).collect()
    }
    expected = {st: (counts[st], str(sums[st])) for st in counts}
    assert got == expected


def test_every_query_runs_and_entry_smokes(spark, query_plans):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    # the shared cold-plan pass (conftest.query_plans) already
    # constructed every registered query; a query that fails analysis
    # fails there, so this only asserts the analyzed shape
    for name in QUERIES:
        cols, _plan = query_plans[name]
        assert cols, f"{name} returned no columns"
