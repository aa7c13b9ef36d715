"""Unit tests for the LLM-pipeline operator family beyond the oracle gate:
multimodal plumbing (mapInPandas, Arrow batches, binary payloads), dedup
properties, and similarity-search sanity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_ingestion_from_multiple_directories_linux_spark.catalog import load_table
from data_ingestion_from_multiple_directories_linux_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    extract_features,
    fake_decode,
    frame_sample,
    media_from_documents,
    real_decode,
)
from tests.conftest import CHILD_SYS_PATH, SF_SMALL


@pytest.fixture(scope="module")
def media(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    return media_from_documents(docs)


def test_media_schema_and_payload_bytes(spark, media):
    rows = media.limit(3).collect()
    assert rows
    for r in rows:
        assert isinstance(r["payload"], (bytes, bytearray))
        assert r["meta"]["n_bytes"] == len(r["payload"])
        assert r["media_type"] == "image/fake"


def test_extract_features_fake_decode(spark, media):
    out = extract_features(media, decode_fn=fake_decode)
    assert out.schema == FEATURE_SCHEMA
    rows = out.collect()
    n_docs = media.count()
    assert len(rows) == n_docs
    # features deterministic: recompute one row driver-side
    sample = media.orderBy("media_id").limit(1).collect()[0]
    expect = fake_decode(bytes(sample["payload"]), sample["media_type"])
    got = next(r for r in rows if r["media_id"] == sample["media_id"])
    assert got["width"] == expect["width"]
    assert got["feature"] == expect["feature"]
    assert all(len(r["feature"]) == 4 for r in rows)


def test_real_decode_parses_png_and_jpeg_headers():
    from data_ingestion_from_multiple_directories_linux_spark.operators.multimodal import (
        make_jpeg,
        make_png,
        parse_image_header,
    )

    assert parse_image_header(make_png(640, 360)) == {
        "format": "png", "width": 640, "height": 360,
    }
    assert parse_image_header(make_jpeg(1920, 1080)) == {
        "format": "jpeg", "width": 1920, "height": 1080,
    }
    # garbage / truncated payloads: None, never an exception
    assert parse_image_header(b"abc") is None
    assert parse_image_header(b"\xff\xd8\xff\xe0\x00") is None
    assert parse_image_header(make_png(64, 64)[:10]) is None
    got = real_decode(make_png(12, 34), "image/png")
    assert (got["width"], got["height"], got["n_frames"]) == (12, 34, 1)
    assert real_decode(b"not an image", "image/png")["width"] is None


def test_media_dimensions_end_to_end(spark):
    from data_ingestion_from_multiple_directories_linux_spark.operators.multimodal import (
        media_dimensions,
    )

    rows = media_dimensions(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        i = r["media_id"]
        assert r["width"] == 16 + i % 320
        assert r["height"] == 16 + i % 200
        assert r["media_type"] == ("image/png" if i % 2 == 0 else "image/jpeg")


def test_frame_sample_plan(spark, media):
    sampled = frame_sample(media, every_n=30)
    rows = sampled.limit(200).collect()
    assert rows
    assert all(r["frame_index"] % 30 == 0 for r in rows)
    # JVM-only plan: no Python evaluation node before decode
    plan = sampled._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan.lower()


def test_exact_dedup_groups_duplicates(spark):
    from data_ingestion_from_multiple_directories_linux_spark.operators.text_analysis import (
        exact_dedup_documents,
    )

    out = exact_dedup_documents(spark, SF_SMALL)
    rows = out.collect()
    n_docs = load_table(spark, SF_SMALL, "documents").count()
    # every group keeps the smallest id; synthesized dup groups have size 2
    assert len(rows) == n_docs  # all base texts distinct
    dup_groups = [r for r in rows if r["n_copies"] == 2]
    assert dup_groups
    assert all(r["keeper_doc_id"] < 10000 for r in dup_groups)


def test_minhash_finds_synthesized_near_dups(spark):
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        minhash_lsh_near_dup,
    )

    pairs = minhash_lsh_near_dup(spark, SF_SMALL).collect()
    # independent ground truth, computed driver-side in plain Python:
    # a mutation (4 appended tokens) has jaccard (n-2)/(n+2) with its
    # source, so short docs legitimately fall below the 0.7 threshold
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    expected = set()
    for r in docs:
        if r["doc_id"] % 7 != 0:
            continue
        t1 = r["text"].lower().split()
        t2 = (r["text"] + " zz yy xx qq").lower().split()
        s1 = {tuple(t1[i : i + 3]) for i in range(len(t1) - 2)}
        s2 = {tuple(t2[i : i + 3]) for i in range(len(t2) - 2)}
        if s1 and len(s1 & s2) / len(s1 | s2) >= 0.7:
            expected.add((r["doc_id"], r["doc_id"] + 10000))
    synth = {(r["id_a"], r["id_b"]) for r in pairs if r["id_b"] == r["id_a"] + 10000}
    assert synth == expected
    assert expected  # the corpus really contains synthesized near-dups
    assert all(0.0 < r["jaccard"] <= 1.0 for r in pairs)


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        TOP_K,
        cosine_topk,
    )

    got = cosine_topk(spark, SF_SMALL).collect()
    emb = load_table(spark, SF_SMALL, "embeddings").orderBy("vec_id").collect()
    M = np.array([r["embedding"] for r in emb], dtype=np.float64)
    ids = [r["vec_id"] for r in emb]
    q = M[ids.index(0)]
    cos = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    ranked = sorted(
        [(c, i) for c, i in zip(cos, ids) if i != 0], key=lambda t: (-t[0], t[1])
    )[:TOP_K]
    assert [i for _, i in ranked] == [r["vec_id"] for r in got]
    for (c, _), r in zip(ranked, got):
        assert math.isclose(c, r["cosine"], abs_tol=1e-6)  # 1e-9 quantization

def test_connected_components_transitive_closure(spark):
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        connected_components,
    )

    # two components: {1,2,3,4} via a chain (1-2, 2-3, 3-4: 1 and 4 are
    # only transitively linked) and {10,11}; node ids deliberately not
    # contiguous with cluster minima
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_duplicate_clusters_group_both_generations(spark):
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        duplicate_clusters,
    )

    rows = duplicate_clusters(spark, SF_SMALL).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    # every cluster is rooted at an original doc (id < 10000) and its
    # members are that doc's mutated generations
    full = [c for c, members in by_cluster.items() if len(members) == 3]
    assert full  # at least some docs link all three generations
    for c in full:
        assert by_cluster[c] == {c, c + 10000, c + 20000}


def test_star_components_deep_chain(spark):
    """large-star/small-star resolves a diameter-59 chain (propagation
    at max_iter=20 cannot) in O(log n) alternations."""
    import warnings as _w

    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        connected_components,
    )

    # one 60-node chain (ids shuffled so min is mid-chain) + one pair
    perm = [(i * 37) % 60 + 100 for i in range(60)]  # 100..159 permuted
    edges = spark.createDataFrame(
        [(perm[i], perm[i + 1]) for i in range(59)] + [(7, 3)],
        "id_a bigint, id_b bigint",
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in connected_components(edges, algorithm="star", max_iter=15).collect()
    }
    assert got == {(n, 100) for n in perm} | {(3, 3), (7, 3)}

    # propagation on the same graph warns when max_iter < diameter and
    # returns (possibly unconverged) labels instead of hanging
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        connected_components(edges, algorithm="propagation", max_iter=3).collect()
    assert any("did not converge" in str(w.message) for w in rec)


def test_star_components_match_propagation_random_graph(spark):
    """star and propagation agree on a random multi-component graph."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        connected_components,
    )

    # deterministic pseudo-random graph: 80 nodes, 70 edges via LCG
    x, es = 12345, []
    for _ in range(70):
        x = (x * 1103515245 + 12345) % (2**31)
        a = x % 80
        x = (x * 1103515245 + 12345) % (2**31)
        b = x % 80
        if a != b:
            es.append((a, b))
    edges = spark.createDataFrame(es, "id_a bigint, id_b bigint")
    prop = {
        (r["node"], r["cluster_id"])
        for r in connected_components(edges, max_iter=40).collect()
    }
    star = {
        (r["node"], r["cluster_id"])
        for r in connected_components(edges, algorithm="star").collect()
    }
    assert star == prop


def test_df_cap_bounds_inverted_index_fanout(spark):
    """A 300x-duplicated boilerplate doc floods the inverted index;
    df_cap drops its shingles before the self-join."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        jaccard_pairs,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(300)]
    # plus distinct near-dup pairs that must survive the prune
    for i in range(5):
        base = f"unique document {i} alpha beta gamma delta epsilon zeta eta theta"
        rows.append((1000 + i, base))
        rows.append((2000 + i, base + " extra"))
    corpus = spark.createDataFrame(rows, "doc_id bigint, text string")

    capped = jaccard_pairs(corpus, 3, 0.6, df_cap=50).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    # boilerplate's shingles have df=300 > 50 -> all dropped -> none of
    # the 300*299/2 = 44850 boilerplate pairs appear
    assert got == {(1000 + i, 2000 + i) for i in range(5)}
    # uncapped, the boilerplate clique dominates
    assert len(jaccard_pairs(corpus, 3, 0.6).collect()) == 44850 + 5


def test_bucket_cap_bounds_lsh_candidates(spark):
    """Mass-duplicate docs collapse into one LSH bucket per band;
    bucket_cap drops those buckets (exact-dedup territory) while
    ordinary near-dup pairs keep colliding."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        minhash_pairs,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(300)]
    for i in range(5):
        base = f"unique document {i} alpha beta gamma delta epsilon zeta eta theta"
        rows.append((1000 + i, base))
        rows.append((2000 + i, base + " extra"))
    corpus = spark.createDataFrame(rows, "doc_id bigint, text string")

    capped = minhash_pairs(corpus, 3, 0.6, bucket_cap=50).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert got == {(1000 + i, 2000 + i) for i in range(5)}
    assert len(minhash_pairs(corpus, 3, 0.6).collect()) == 44850 + 5


def test_ivf_centroids_trained_and_balanced(spark):
    """Lloyd-trained centroids produce balanced cells (no giant bucket)
    and differ from their seeds (training actually moved them)."""
    from data_ingestion_from_multiple_directories_linux_spark.catalog import load_table
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        _assign_cells,
        _seed_centroids,
        norm_sq_q,
        to_double_array,
        train_ivf_centroids,
    )

    e = (
        load_table(spark, "/root/testdata/sf0.01", "embeddings")
        .select("vec_id", to_double_array("embedding").alias("v"))
        .withColumn("nv", norm_sq_q("v"))
    )
    cent = train_ivf_centroids(e)
    rows = cent.collect()
    assert len(rows) > 1
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        TRAIN_SAMPLE_BELOW,
    )

    sample = e.filter(
        F.substring(F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 1)
        < TRAIN_SAMPLE_BELOW
    )
    seeds = {r["cid"]: r["cv"] for r in _seed_centroids(sample, 32).collect()}
    moved = [r for r in rows if r["cid"] in seeds and list(r["cv"]) != list(seeds[r["cid"]])]
    assert moved  # Lloyd updates changed the seed vectors

    sizes = [r["count"] for r in _assign_cells(e, cent).groupBy("cell").count().collect()]
    n = sum(sizes)
    # the quadratic pair term is sum(s^2); balanced cells keep the max
    # cell well under a constant fraction of the corpus
    assert max(sizes) < 0.2 * n


def test_corpus_governance_ops(spark):
    """Sanity on the corpus-governance family (oracle parity is the
    driver's job; these check the semantics are meaningful)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.corpus import (
        SOURCE_CAP,
        benchmark_decontamination,
        dataset_split_assign,
        pii_redact_text,
        repetition_ratio,
        source_capped_sample,
    )

    SF = "/root/testdata/sf0.01"
    splits = dataset_split_assign(spark, SF).groupBy("split").count().collect()
    by = {r["split"]: r["count"] for r in splits}
    n = sum(by.values())
    # 12/2/2 sixteenths with hash noise
    assert 0.6 < by["train"] / n < 0.9
    assert set(by) == {"train", "val", "test"}

    rep = repetition_ratio(spark, SF).collect()
    assert all(0.0 < r["repetition_ratio"] <= 1.0 for r in rep)
    assert all(r["top_ngram_count"] <= r["n_ngrams"] for r in rep)

    red = pii_redact_text(spark, SF).collect()
    assert all(r["n_redactions"] == 2 for r in red)  # 1 email + 1 phone
    assert all("[EMAIL]" in r["redacted"] and "[PHONE]" in r["redacted"] for r in red)
    assert all("@example.com" not in r["redacted"] for r in red)

    cap = source_capped_sample(spark, SF).groupBy("source").count().collect()
    assert all(r["count"] <= SOURCE_CAP for r in cap)

    dec = benchmark_decontamination(spark, SF).collect()
    assert all(r["n_shared"] >= 1 for r in dec)


def test_wav_header_roundtrip():
    from data_ingestion_from_multiple_directories_linux_spark.operators.multimodal import (
        make_wav,
        parse_wav_header,
    )

    h = parse_wav_header(make_wav(16000, 2, 1234))
    assert h == {
        "format": "wav", "channels": 2, "sample_rate": 16000,
        "bits": 16, "n_samples": 1234,
    }
    assert parse_wav_header(b"RIFFxxxxNOPE") is None
    assert parse_wav_header(b"short") is None
    # fmt-less RIFF: None, not a crash
    assert parse_wav_header(b"RIFF\x04\x00\x00\x00WAVE") is None


def test_kmv_and_fingerprint_semantics(spark):
    from data_ingestion_from_multiple_directories_linux_spark.operators.sketches import (
        kmv_distinct_users,
        table_fingerprint,
    )

    SF = "/root/testdata/sf0.01"
    r = kmv_distinct_users(spark, SF).collect()[0]
    # k-th hash in (0,1); estimate within the ~1/sqrt(k-1) error regime
    assert 0.0 < r["kth_hash"] < 1.0
    assert abs(r["estimate_distinct"] - r["exact_distinct"]) / r["exact_distinct"] < 0.5

    fp = {row["status"]: row for row in table_fingerprint(spark, SF).collect()}
    # fingerprint is order/partitioning independent: recompute on a
    # differently-partitioned scan and compare
    fp2 = {
        row["status"]: row
        for row in table_fingerprint(spark, SF).repartition(7).collect()
    }
    assert {k: (v["n_rows"], v["content_hash"]) for k, v in fp.items()} == {
        k: (v["n_rows"], v["content_hash"]) for k, v in fp2.items()
    }


def test_chunking_and_packing_semantics(spark):
    from data_ingestion_from_multiple_directories_linux_spark.operators.corpus import (
        CHUNK_S,
        CHUNK_W,
        PACK_BUDGET,
        document_chunks,
        sequence_packing,
    )

    SF = "/root/testdata/sf0.01"
    ch = document_chunks(spark, SF).collect()
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in list(by_doc.items())[:20]:
        rows.sort(key=lambda r: r["chunk_idx"])
        # contiguous indices; chunk i holds min(W, n - i*S) tokens
        assert [r["chunk_idx"] for r in rows] == list(range(len(rows)))
        n_tokens = rows[0]["n_chunk_tokens"] if len(rows) == 1 else None
        last_start = (len(rows) - 1) * CHUNK_S
        n_tokens = last_start + rows[-1]["n_chunk_tokens"]
        for r in rows:
            expect = min(CHUNK_W, n_tokens - r["chunk_idx"] * CHUNK_S)
            assert r["n_chunk_tokens"] == expect
            assert len(r["chunk_text"].split()) == r["n_chunk_tokens"]
        # consecutive chunks overlap by W - S tokens
        if len(rows) > 1:
            a = rows[0]["chunk_text"].split()
            b = rows[1]["chunk_text"].split()
            assert a[CHUNK_S:] == b[: CHUNK_W - CHUNK_S]

    pk = sorted(sequence_packing(spark, SF).collect(), key=lambda r: r["doc_id"])
    off = 0
    for r in pk:
        assert r["start_offset"] == off
        assert r["seq_id"] == off // PACK_BUDGET
        off += r["n_tokens"]


def test_mp4_header_roundtrip():
    from data_ingestion_from_multiple_directories_linux_spark.operators.multimodal import (
        make_mp4,
        parse_mp4_header,
    )

    h = parse_mp4_header(make_mp4(24000, 720000, 2))
    assert h == {
        "format": "mp4", "timescale": 24000,
        "duration_units": 720000, "n_tracks": 2,
    }
    assert parse_mp4_header(b"not a video") is None
    assert parse_mp4_header(b"\x00\x00\x00\x08ftyp") is None  # no moov


def test_media_parsers_never_crash_on_fuzz():
    """Property: every container parser returns a dict or None on
    arbitrary byte strings — never raises (quarantine depends on it)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_ingestion_from_multiple_directories_linux_spark.operators.multimodal import (
        parse_image_header,
        parse_mp4_header,
        parse_wav_header,
    )

    # seed with magic prefixes so the fuzz actually reaches the walkers
    prefix = st.sampled_from(
        [b"", b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"RIFF", b"RIFFxxxxWAVE",
         b"\x00\x00\x00\x14ftyp", b"\x00\x00\x00\x08ftyp"]
    )

    @settings(max_examples=300, deadline=None)
    @given(pre=prefix, body=st.binary(max_size=256))
    def run(pre, body):
        for parser in (parse_image_header, parse_wav_header, parse_mp4_header):
            out = parser(pre + body)
            assert out is None or isinstance(out, dict)

    run()


def test_resize_media_plumbing(spark):
    from data_ingestion_from_multiple_directories_linux_spark.operators.multimodal import (
        fake_resize,
        parse_image_header,
        real_resize,
        resize_media,
        synth_media_from_documents,
    )

    docs = load_table(spark, SF_SMALL, "documents").limit(20)
    media = synth_media_from_documents(docs)
    out = resize_media(media, 64, 48, resize_fn=fake_resize).collect()
    assert out
    for r in out:
        hdr = parse_image_header(bytes(r["payload"]))
        assert (hdr["width"], hdr["height"]) == (64, 48)
        assert r["meta"]["n_bytes"] == len(r["payload"])
        assert r["resize_error"] is None
    with pytest.raises(NotImplementedError):
        real_resize(b"x", "image/png", 2, 2)


def test_resize_media_quarantines_undecodable_payloads(spark):
    """Scale-safety e2e: a mixed corpus (real decodable PNGs, JPEGs the
    container has no codec for, garbage bytes) runs the REAL resize path
    to completion — PNG rows come back resized, everything else becomes
    a quarantine row (NULL payload, source preserved, reason recorded)
    instead of killing the job. NotImplementedError stays on the direct
    function call (asserted in test_resize_media_plumbing)."""
    from data_ingestion_from_multiple_directories_linux_spark.functions.png_codec import (
        decode_png,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        make_jpeg,
        make_png_gradient,
        resize_media,
    )

    rows = []
    for i in range(6):
        rows.append((i, "image/png", make_png_gradient(i), ("synth", 0)))
    for i in range(6, 10):
        rows.append((i, "image/jpeg", make_jpeg(20, 10), ("synth", 0)))
    rows.append((10, "image/png", b"\x89PNG garbage", ("synth", 0)))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3)

    out = {r["media_id"]: r for r in resize_media(media, 5, 4).collect()}
    assert len(out) == 11
    for i in range(6):
        r = out[i]
        assert r["resize_error"] is None
        px = decode_png(bytes(r["payload"]))
        assert px.shape[:2] == (4, 5)
        assert r["meta"]["n_bytes"] == len(r["payload"])
    for i in list(range(6, 10)) + [10]:
        r = out[i]
        assert r["payload"] is None
        assert r["meta"]["source"] == "synth"
        assert r["meta"]["n_bytes"] is None
        assert "NotImplementedError" in r["resize_error"]


def test_minhash_incremental_index_roundtrip(spark, tmp_path):
    """The incremental path against an index PERSISTED to parquet (the
    real production shape: yesterday's band table + shingle sets on
    disk, today's batch joined against them) equals a full recompute
    restricted to pairs touching the new batch."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        JACCARD_MINHASH_THRESHOLD,
        _near_dup_corpus,
        minhash_band_index,
        minhash_incremental_pairs,
        minhash_pairs,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    store = TableStore(spark, str(tmp_path / "wh"))
    corpus = _near_dup_corpus(spark, SF_SMALL)
    old = corpus.filter(F.col("doc_id") % 4 != 0)
    new = corpus.filter(F.col("doc_id") % 4 == 0)

    # day 0: build + persist the index
    bands, sh = minhash_band_index(old, 3)
    store.append("_minhash_bands", bands)
    store.append("_minhash_shingles", sh)

    # day 1: dedup the new batch against the stored index
    new_bands, new_sh = minhash_band_index(new, 3)
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_incremental_pairs(
            new_bands,
            new_sh,
            store.read("_minhash_bands"),
            store.read("_minhash_shingles"),
            JACCARD_MINHASH_THRESHOLD,
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_pairs(corpus, 3, JACCARD_MINHASH_THRESHOLD).collect()
        if r["id_a"] % 4 == 0 or r["id_b"] % 4 == 0
    }
    assert got == full and got  # identical pair set, non-empty


_MINHASH_SERVE_SCRIPT = CHILD_SYS_PATH + r"""
import json, sys
from pyspark.sql import SparkSession, functions as F

wh, out, sf = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (
    SparkSession.builder.master("local[4]")
    .appName("minhash-incremental-serve")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
    JACCARD_MINHASH_THRESHOLD,
    _near_dup_corpus,
    minhash_band_index,
    minhash_incremental_pairs,
)
from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
    TableStore,
)

# Day 1 in a NEW session: only the new batch is shingled; day 0's
# corpus contributes nothing but its PERSISTED band + shingle tables.
store = TableStore(spark, wh)
new = _near_dup_corpus(spark, sf).filter(F.col("doc_id") % 4 == 0)
new_bands, new_sh = minhash_band_index(new, 3)
pairs = sorted(
    (r["id_a"], r["id_b"])
    for r in minhash_incremental_pairs(
        new_bands,
        new_sh,
        store.read("_minhash_bands"),
        store.read("_minhash_shingles"),
        JACCARD_MINHASH_THRESHOLD,
    ).collect()
)
with open(out, "w") as f:
    json.dump(pairs, f)
spark.stop()
"""


def test_minhash_index_multisession_ingest_day_boundary(spark, tmp_path):
    """The streaming-dedup index crosses a SESSION boundary — the real
    daily-ingest cadence: day 0 builds + persists the band/shingle
    index in this session; day 1 runs in a SEPARATE process with a
    brand-new SparkSession, reading ONLY the persisted tables (day 0's
    text is never re-shingled), and its pair set must equal a full
    one-session recompute restricted to pairs touching the new batch
    (MinHash banding is deterministic per document, so index reuse
    changes nothing)."""
    import json
    import subprocess
    import sys

    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        JACCARD_MINHASH_THRESHOLD,
        _near_dup_corpus,
        minhash_band_index,
        minhash_pairs,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    wh = str(tmp_path / "wh")
    store = TableStore(spark, wh)
    corpus = _near_dup_corpus(spark, SF_SMALL)
    bands, sh = minhash_band_index(corpus.filter(F.col("doc_id") % 4 != 0), 3)
    store.append("_minhash_bands", bands)
    store.append("_minhash_shingles", sh)

    script = tmp_path / "serve_minhash.py"
    script.write_text(_MINHASH_SERVE_SCRIPT)
    out_json = tmp_path / "pairs.json"
    proc = subprocess.run(
        [sys.executable, str(script), wh, str(out_json), SF_SMALL],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"day-1 process failed:\n{proc.stderr[-4000:]}"
    got = {tuple(p) for p in json.load(out_json.open())}
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_pairs(corpus, 3, JACCARD_MINHASH_THRESHOLD).collect()
        if r["id_a"] % 4 == 0 or r["id_b"] % 4 == 0
    }
    assert got == full and got


def test_training_pipeline_composes_end_to_end(spark):
    """The full training-data funnel composed from the engine's
    primitives — exact dedup → near-dup dedup (pairs + connected
    components, canonical keeper) → quality filter → benchmark
    decontamination → split assignment → chunking — with row-accounting
    invariants at every stage: the funnel only narrows, survivors are
    unique, split fractions hold, chunks cover every surviving token,
    and the whole pipeline is deterministic end to end."""
    from data_ingestion_from_multiple_directories_linux_spark.catalog import load_table
    from data_ingestion_from_multiple_directories_linux_spark.functions.text import tokens
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )

    def run_funnel():
        docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text"
        )
        n0 = docs.count()

        # 1 exact dedup: one keeper per sha256(text)
        keeper = (
            docs.groupBy(F.sha2(F.col("text"), 256).alias("h"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        d1 = docs.join(keeper, "doc_id", "left_semi")
        n1 = d1.count()

        # 2 near-dup dedup: drop every non-canonical component member
        pairs = jaccard_pairs(d1, 4, 0.5)
        labels = connected_components(pairs)
        losers = labels.filter(F.col("node") != F.col("cluster_id")).select(
            F.col("node").alias("doc_id")
        )
        d2 = d1.join(losers, "doc_id", "left_anti")
        n2 = d2.count()

        # 3 quality filter: enough tokens, not one repeated token
        toks = d2.select(
            "doc_id", "text", F.size(tokens("text")).alias("n_tok"),
            F.size(F.array_distinct(tokens("text"))).alias("n_uniq"),
        )
        d3 = toks.filter((F.col("n_tok") >= 5) & (F.col("n_uniq") >= 3))
        n3 = d3.count()

        # 4 decontamination: drop docs sharing any full text with a tiny
        # "eval set" (first 3 surviving docs by id — worst case: they
        # remove exactly themselves plus exact twins, already deduped)
        eval_set = d3.orderBy("doc_id").limit(3).select(
            F.sha2("text", 256).alias("h")
        )
        d4 = d3.withColumn("h", F.sha2("text", 256)).join(
            F.broadcast(eval_set), "h", "left_anti"
        )
        n4 = d4.count()

        # 5 deterministic split
        bucket = F.conv(F.substring(F.md5(F.col("text")), 1, 4), 16, 10).cast(
            "long"
        ) % 100
        d5 = d4.withColumn(
            "split",
            F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise(
                "test"
            ),
        )

        # 6 chunk: 8-token windows, stride 8 (exact cover)
        chunks = d5.select(
            "doc_id", "split",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(
                            (F.col("n_tok") - 1) / 8, F.lit(0)
                        ).cast("int"),
                    ),
                    lambda i: F.slice(tokens("text"), i * 8 + 1, 8),
                )
            ).alias("chunk_idx", "chunk_toks"),
        )
        return n0, n1, n2, n3, n4, d5, chunks

    n0, n1, n2, n3, n4, d5, chunks = run_funnel()
    # funnel only narrows
    assert n0 >= n1 >= n2 >= n3 >= n4 > 0
    # near-dup stage really removed the synthesized dups? (sf0.001 docs
    # are all distinct — n1 == n0 is fine; survivors must be unique)
    survivors = d5.select("text").distinct().count()
    assert survivors == n4
    # split covers everything, all three classes present at 500-doc scale
    split_counts = {
        r["split"]: r["n"]
        for r in d5.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert sum(split_counts.values()) == n4
    assert split_counts.get("train", 0) > split_counts.get("val", 0)
    # chunks cover every surviving token exactly once (stride = width)
    tok_total = d5.agg(F.sum("n_tok").alias("s")).collect()[0]["s"]
    chunk_tok_total = chunks.agg(
        F.sum(F.size("chunk_toks")).alias("s")
    ).collect()[0]["s"]
    assert chunk_tok_total == tok_total
    # deterministic end to end
    n0b, n1b, n2b, n3b, n4b, d5b, _ = run_funnel()
    assert (n0, n1, n2, n3, n4) == (n0b, n1b, n2b, n3b, n4b)
    a = sorted(d5.select("doc_id", "split").collect())
    b = sorted(d5b.select("doc_id", "split").collect())
    assert a == b


def test_weighted_sample_prefers_long_docs(spark):
    """Sequential-Poisson sampling with weight = n_chars must over-
    represent long documents: the sample's mean length exceeds the
    corpus mean (inclusion odds ∝ length), and reruns are identical."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.corpus import (
        weighted_sample_docs,
    )

    sample = weighted_sample_docs(spark, SF_SMALL)
    rows = sample.collect()
    assert len(rows) == 50
    # priorities are the ascending head of the priority order
    pr = [r["priority"] for r in rows]
    assert pr == sorted(pr)
    corpus_mean = (
        load_table(spark, SF_SMALL, "documents")
        .agg(F.avg("n_chars").alias("m"))
        .collect()[0]["m"]
    )
    sample_mean = sum(r["weight"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean
    # deterministic
    again = weighted_sample_docs(spark, SF_SMALL).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in again
    )


def test_sq8_topk_recall_vs_exact(spark):
    """SQ8 ranking must closely agree with the exact cosine baseline:
    at 64 dims one code step per dim bounds the dot error, so the
    quantized top-20 should recover most of the exact top-20."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        cosine_topk,
        sq8_quantized_topk,
    )

    exact = {r["vec_id"] for r in cosine_topk(spark, SF_SMALL).collect()}
    sq8 = {r["vec_id"] for r in sq8_quantized_topk(spark, SF_SMALL).collect()}
    recall = len(exact & sq8) / len(exact)
    assert recall >= 0.8, f"SQ8 recall {recall} vs exact top-k"


def test_train_bpe_merges_known_corpus(spark):
    """BPE training on a hand-checkable corpus: 'low low low lower'-style
    — the most frequent adjacent pair merges first, later rounds see the
    merged tokens, and the loop stops when counts fall below threshold."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.text_analysis import (
        train_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab ab cd"), (2, "ab ab cd cd"), (3, "ab cd xy")],
        "doc_id bigint, text string",
    )
    # BPE_RE tokenizes "ab ab ab cd" -> [ab, ab, ab, cd] (letter runs)
    merges = train_bpe_merges(docs, n_merges=3, min_pair_count=2)
    # pairs round 1: (ab,ab) x3  (ab,cd) x3  (cd,cd) x1 (ab,xy) ...
    # tie 3-3 broken lexicographically: (ab,ab) < (ab,cd)
    assert merges[0] == ("ab", "ab")
    # after merge 1: doc1 [abab, ab, cd] doc2 [abab, cd, cd] doc3 [ab, cd, xy]
    # pairs: (abab,ab) 1, (ab,cd) 2, (abab,cd) 1, (cd,cd) 1, (cd,xy) 1
    assert merges[1] == ("ab", "cd")
    # after merge 2: doc1 [abab, abcd] doc2 [abab, cd, cd] doc3 [abcd, xy]
    # no pair reaches min_pair_count=2 -> stop early
    assert len(merges) == 2
    # deterministic rerun
    assert train_bpe_merges(docs, n_merges=3, min_pair_count=2) == merges


def test_contamination_spread_hop_structure(spark):
    """Recursive walk semantics: seeds at hops=0; first-generation
    mutations (+10000) of seed docs reachable at 1 hop; second
    generation (+20000) present even where its only path is transitive
    (through gen1) — the chain case single-hop decontamination misses."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.graphs import (
        SPREAD_SEED_MOD,
        contamination_spread,
    )

    rows = {
        r["doc_id"]: r["hops"]
        for r in contamination_spread(spark, SF_SMALL).collect()
    }
    assert rows, "spread returned nothing"
    assert all(0 <= h <= 3 for h in rows.values())
    seeds = [d for d, h in rows.items() if h == 0]
    assert seeds and all(
        d % SPREAD_SEED_MOD == 0 and d < 10000 for d in seeds
    )
    # the seed family's mutated generations are reached transitively
    gen1 = [d for d in rows if 10000 <= d < 20000]
    gen2 = [d for d in rows if d >= 20000]
    assert gen1 and gen2
    assert all(rows[d] >= 1 for d in gen1)
    assert all(rows[d] >= 1 for d in gen2)


def test_pq_codes_stable_under_perturbation(spark):
    """PQ quantizer invariants: codes are (m, cell) with cell < PQ_K and
    exactly PQ_M codes per vector; and a perturbed copy (cosine ~0.97)
    must encode to (mostly) the SAME codes as its original — code
    stability under small perturbation is what makes the compressed
    index usable for near-dup retrieval (measured here: ~0.84 mean
    per-subspace agreement, ~45% of copies identical on all 4)."""
    from pyspark.sql import functions as Fn

    from data_ingestion_from_multiple_directories_linux_spark.catalog import (
        load_table,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        _pq_assign,
        _pq_slices,
        to_double_array,
        train_pq_codebooks,
    )

    e = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    mut = e.filter(Fn.col("vec_id") % 5 == 0).select(
        (Fn.col("vec_id") + 10000).alias("vec_id"),
        Fn.transform(
            "v",
            lambda x, i: x + Fn.lit(0.02) * ((i % 7) - 3).cast("double"),
        ).alias("v"),
    )
    corpus = e.unionByName(mut)
    cent = train_pq_codebooks(e)
    csl = _pq_slices(corpus, ["vec_id"])
    codes = _pq_assign(csl, cent).select("vec_id", "m", "cell")
    rows = codes.collect()
    per_vec = {}
    for r in rows:
        assert 0 <= r["cell"] < PQ_K
        per_vec.setdefault(r["vec_id"], set()).add(r["m"])
    assert all(ms == set(range(PQ_M)) for ms in per_vec.values())

    base_codes = {
        (r["vec_id"], r["m"]): r["cell"] for r in rows if r["vec_id"] < 10000
    }
    agree, per_copy = [], {}
    for r in rows:
        if r["vec_id"] < 10000:
            continue
        same = int(base_codes[(r["vec_id"] - 10000, r["m"])] == r["cell"])
        agree.append(same)
        per_copy.setdefault(r["vec_id"], []).append(same)
    assert agree, "no copies encoded"
    assert sum(agree) / len(agree) >= 0.75, sum(agree) / len(agree)
    full = sum(1 for v in per_copy.values() if all(v))
    assert full / len(per_copy) >= 0.25, (full, len(per_copy))


def test_semantic_dedup_drops_copies_keeps_base(spark):
    """SemDeDup semantics on the synthesized corpus: every dropped
    vector is a perturbed COPY (pair ids order base < copy, so the
    cluster canonical is always the base vector); all 500 base vectors
    survive; and a substantial share of the 100 copies is removed
    (IVF nprobe=1 recall bounds the exact count)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        semantic_dedup_survivors,
    )

    ids = {
        r["vec_id"]
        for r in semantic_dedup_survivors(spark, SF_SMALL).collect()
    }
    base = {i for i in ids if i < 10000}
    assert len(base) == 500  # no base vector ever dropped
    copies_kept = len(ids) - len(base)
    assert copies_kept < 50, copies_kept  # most copies deduped away


def test_minhash_estimator_error_within_model(spark):
    """The 64-hash MinHash estimate must track exact Jaccard within the
    binomial error model (sd = sqrt(J(1-J)/64) ~ 60 permille at J=0.7):
    mean |err| well under one sd, max under ~3 sd — the calibration that
    justifies the production banding parameters."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        minhash_estimate_calibration,
    )

    pdf = minhash_estimate_calibration(spark, SF_SMALL).toPandas()
    assert len(pdf) > 50
    assert (pdf.exact_permille > 0).all()
    assert pdf.abs_err_permille.mean() <= 60, pdf.abs_err_permille.mean()
    assert pdf.abs_err_permille.max() <= 250, pdf.abs_err_permille.max()


def test_bpe_train_apply_round_trip(spark):
    """Tokenizer round trip: applying the trained merge table encodes
    the corpus with FEWER tokens (every applied rule merged at least
    one pair), deterministically, and on the training corpus itself the
    encoding matches what training's own folds produced (same greedy
    rule)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.text_analysis import (
        apply_bpe_merges,
        train_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab ab cd"), (2, "ab ab cd cd"), (3, "ab cd xy")],
        "doc_id bigint, text string",
    )
    merges = train_bpe_merges(docs, n_merges=3, min_pair_count=2)
    enc = apply_bpe_merges(docs, merges)
    rows = {r["doc_id"]: r["tokens"] for r in enc.collect()}
    # exact expected encodings under merges [(ab,ab), (ab,cd)]
    assert rows[1] == ["abab", "abcd"]
    assert rows[2] == ["abab", "cd", "cd"]
    assert rows[3] == ["abcd", "xy"]
    before = sum(len(r["text"].split()) for r in docs.collect())
    after = sum(len(t) for t in rows.values())
    assert after < before
    again = {
        r["doc_id"]: r["tokens"]
        for r in apply_bpe_merges(docs, merges).collect()
    }
    assert again == rows


def test_ivf_centroids_persist_and_reload_identically(spark, tmp_path):
    """Round-5 verdict task pinned: IVF centroids persist/reload like
    PQ codebooks — assignment with the RELOADED table is bit-identical
    to assignment with the in-session frame, and the store-fed IVFPQ
    search equals the registered query's output."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        _assign_cells,
        _trained_centroids,
        _vec_corpus,
        ivfpq_topk_from_store,
        ivfpq_topk_neighbors,
        load_ivf_centroids,
        save_ivf_centroids,
        save_pq_codebooks,
        _trained_pq_codebooks,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    cent = _trained_centroids(spark, SF_SMALL)
    store = TableStore(spark, str(tmp_path / "wh"))
    save_ivf_centroids(store, "ivf_centroids", cent)
    reloaded = load_ivf_centroids(store, "ivf_centroids")

    corpus = _vec_corpus(spark, SF_SMALL)
    a = sorted(
        (r["vec_id"], r["cell"])
        for r in _assign_cells(corpus, cent).select("vec_id", "cell").collect()
    )
    b = sorted(
        (r["vec_id"], r["cell"])
        for r in _assign_cells(corpus, reloaded)
        .select("vec_id", "cell")
        .collect()
    )
    assert a == b and a

    save_pq_codebooks(
        store, "pq_codebooks", _trained_pq_codebooks(spark, SF_SMALL)
    )
    want = sorted(
        tuple(r) for r in ivfpq_topk_neighbors(spark, SF_SMALL).collect()
    )
    got = sorted(
        tuple(r)
        for r in ivfpq_topk_from_store(spark, SF_SMALL, store).collect()
    )
    assert got == want and got


_SERVE_SCRIPT = CHILD_SYS_PATH + r"""
import json, sys
from pyspark.sql import SparkSession

wh, out = sys.argv[1], sys.argv[2]
spark = (
    SparkSession.builder.master("local[4]")
    .appName("ivfpq-serve-only")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
    ivfpq_topk_from_store,
)
from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
    TableStore,
)

# SERVE ONLY: no trainer is imported or called — the artifacts must
# arrive through the store or this process has nothing to search with.
store = TableStore(spark, wh)
rows = sorted(
    tuple(r) for r in ivfpq_topk_from_store(spark, sys.argv[3], store).collect()
)
with open(out, "w") as f:
    json.dump(rows, f)
spark.stop()
"""


def test_ivfpq_multisession_train_once_serve_elsewhere(spark, tmp_path):
    """Round-6 verdict task 5 — the actual 100 TB cadence: train + save
    the IVF centroids and PQ codebooks in ONE SparkSession, then serve
    `ivfpq_topk_from_store` from a DIFFERENT process with a brand-new
    SparkSession (new JVM — nothing session-memoized can leak across),
    asserting the served top-k is bit-identical to the training
    session's in-session result and that serving re-trained NOTHING
    (the store's parquet files are byte-date untouched)."""
    import json
    import os
    import subprocess
    import sys

    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        _trained_centroids,
        _trained_pq_codebooks,
        ivfpq_topk_neighbors,
        save_ivf_centroids,
        save_pq_codebooks,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    wh = str(tmp_path / "wh")
    store = TableStore(spark, wh)
    save_ivf_centroids(store, "ivf_centroids", _trained_centroids(spark, SF_SMALL))
    save_pq_codebooks(store, "pq_codebooks", _trained_pq_codebooks(spark, SF_SMALL))
    want = sorted(tuple(r) for r in ivfpq_topk_neighbors(spark, SF_SMALL).collect())

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(wh):
            for fn in files:
                p = os.path.join(root, fn)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot()
    script = tmp_path / "serve.py"
    script.write_text(_SERVE_SCRIPT)
    out_json = tmp_path / "served.json"
    proc = subprocess.run(
        [sys.executable, str(script), wh, str(out_json), SF_SMALL],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"serve process failed:\n{proc.stderr[-4000:]}"
    assert snapshot() == before, "serving must not rewrite the artifacts"
    got = [tuple(r) for r in json.load(out_json.open())]
    assert got == [tuple(r) for r in want] and got


def test_choose_k_sqrt_rule():
    """Auto-K helper: √n, clamped, monotone."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        choose_k,
    )

    assert choose_k(0) == 8  # clamp floor
    assert choose_k(10_000) == 100
    assert choose_k(1_000_000) == 1000
    assert choose_k(10**12) == 1 << 16  # clamp ceiling
    ks = [choose_k(n) for n in (10, 100, 10_000, 10**8)]
    assert ks == sorted(ks)


def test_pq_codebooks_persist_and_reload_identically(spark, tmp_path):
    """Trained-artifact persistence: codebooks saved to the table store
    and reloaded must encode the corpus to EXACTLY the same codes as
    the in-session frame (parquet round-trips the centroid doubles
    bit-for-bit)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        _pq_assign,
        _pq_slices,
        load_pq_codebooks,
        save_pq_codebooks,
        to_double_array,
        train_pq_codebooks,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    e = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    cent = train_pq_codebooks(e)
    store = TableStore(spark, str(tmp_path / "wh"))
    save_pq_codebooks(store, "pq_codebooks", cent)
    reloaded = load_pq_codebooks(store, "pq_codebooks")

    sl = _pq_slices(e, ["vec_id"])
    a = sorted(
        (r["vec_id"], r["m"], r["cell"])
        for r in _pq_assign(sl, cent).select("vec_id", "m", "cell").collect()
    )
    b = sorted(
        (r["vec_id"], r["m"], r["cell"])
        for r in _pq_assign(sl, reloaded)
        .select("vec_id", "m", "cell")
        .collect()
    )
    assert a == b and a


def test_image_header_sof_at_payload_end():
    """The SOF dims may end exactly at the payload's last byte — the
    marker walk's old `i + 9 < n` bound rejected that payload
    (review finding)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.multimodal import (
        parse_image_header,
    )

    # SOI + SOF0 marker with dims as the final bytes
    payload = (
        b"\xff\xd8"
        + b"\xff\xc0" + (11).to_bytes(2, "big")
        + b"\x08" + (34).to_bytes(2, "big") + (12).to_bytes(2, "big")
    )
    hdr = parse_image_header(payload)
    assert hdr == {"format": "jpeg", "width": 12, "height": 34}


def test_read_wav_pcm_truncated_data_chunk_is_none():
    """A data chunk whose declared size exceeds (or oddly misaligns
    with) the actual bytes must yield None, not a numpy ValueError
    inside the task (review finding)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.multimodal import (
        make_wav_pattern,
        read_wav_pcm,
    )

    good = make_wav_pattern(3)
    assert read_wav_pcm(good) is not None
    assert read_wav_pcm(good[:-1]) is None  # odd-truncated data
    assert read_wav_pcm(good[:-2]) is None  # even-truncated data


def test_real_decode_jpeg_pixels():
    """real_decode reaches pixels for baseline grayscale JPEG now that
    the codec ships (review finding: feature stayed None for no
    remaining reason)."""
    import numpy as np

    from data_ingestion_from_multiple_directories_linux_spark.functions.jpeg_codec import (
        encode_jpeg_gray,
    )

    img = np.full((16, 8), 99, np.uint8)
    got = real_decode(encode_jpeg_gray(img), "image/jpeg")
    assert got["width"] == 8 and got["height"] == 16
    assert got["feature"] == [99.0]


def test_frame_sample_images_single_frame(spark, media):
    """Image rows sample exactly frame 0 — the video frame-count rule
    no longer applies to them (review finding)."""
    rows = frame_sample(media, every_n=30).groupBy("media_id").count().collect()
    assert rows and all(r["count"] == 1 for r in rows)


def test_audio_key_never_degenerate():
    """No synthesized clip is all-quiet or all-loud: the mean-energy
    threshold must strictly separate segments for every doc_id
    (review finding: stride 21 reached key 0)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.multimodal import (
        _audio_key,
    )

    keys = {_audio_key(i) for i in range(1000)}
    assert 0 not in keys and 255 not in keys


# ---------------------------------------------------------------------------
# Retrieve-then-rerank (reranking.py)
# ---------------------------------------------------------------------------


def test_rerank_topk_cross_reranks_not_just_truncates(spark):
    """The cross-encoder stage must genuinely reorder stage-1
    candidates: the reranked top-k may not equal the cosine top-k in
    the same order (else the pairwise scorer is a no-op), every result
    must come from the stage-1 candidate set, and the pairwise
    interaction term makes the self-pair score the per-dimension
    maximum (|q-c|=0 penalty vanishes)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.reranking import (
        N_CAND,
        RERANK_K,
        rerank_topk_cross,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        QUERY_VEC_ID,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        load_embeddings,
    )
    from data_ingestion_from_multiple_directories_linux_spark.functions.vectors import (
        cosine_q,
        dot_q,
        norm_sq_q,
        to_double_array,
    )

    out = rerank_topk_cross(spark, SF_SMALL).collect()
    assert len(out) == RERANK_K
    assert len({r["vec_id"] for r in out}) == RERANK_K
    assert all(r["vec_id"] != QUERY_VEC_ID for r in out)
    # rerank order is genuinely different from cosine order
    by_rerank = [r["vec_id"] for r in out]
    by_cosine = [
        r["vec_id"]
        for r in sorted(out, key=lambda r: (-r["cosine"], r["vec_id"]))
    ]
    assert by_rerank != by_cosine
    # every result is a stage-1 candidate (cosine within the top-N_CAND)
    e = load_embeddings(spark, SF_SMALL).select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    cand = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            cosine_q(dot_q("v", "qv"), norm_sq_q("v"), norm_sq_q("qv")).alias("c"),
        )
        .orderBy(F.desc("c"), F.asc("vec_id"))
        .limit(N_CAND)
        .collect()
    )
    cand_ids = {r["vec_id"] for r in cand}
    assert all(r["vec_id"] in cand_ids for r in out)


def test_bloom_url_dedup_no_false_negatives(spark):
    """The Bloom contract that makes the scale path safe: a
    bloom-negative ('new') URL must NEVER exist in the seen set — the
    filter may only err toward false POSITIVES (which the exact join
    then resolves). Also pins that every verdict class is reachable
    and the classes partition the incoming set."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.bloomdedup import (
        _url_col,
        bloom_url_dedup,
    )

    out = bloom_url_dedup(spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", _url_col().alias("url")
    )
    seen_urls = {
        r["url"] for r in docs.filter(F.col("doc_id") % 3 != 0).collect()
    }
    rows = out.collect()
    inc_count = docs.filter(F.col("doc_id") % 3 == 0).count()
    assert len(rows) == inc_count
    for r in rows:
        if r["verdict"] == "new":
            assert r["url"] not in seen_urls, r       # no false negatives
            assert r["bloom_hit"] == 0
        elif r["verdict"] == "dup":
            assert r["url"] in seen_urls, r
            assert r["bloom_hit"] == 1
        else:
            assert r["verdict"] == "false_positive"
            assert r["url"] not in seen_urls, r       # bloom said maybe, join said no
            assert r["bloom_hit"] == 1


def test_quality_threshold_metrics_confusion_partitions(spark):
    """Per threshold, TP+FP+FN+TN must equal the scored-document count
    (NULL scores excluded on both sides), recall must be monotone
    non-increasing in the threshold, and the milli-rates must respect
    their definitions — the histogram-derived phase-2 path has to
    reproduce the direct per-document confusion exactly."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.calibration import (
        _scored,
        quality_threshold_metrics,
    )

    total = _scored(spark, SF_SMALL).filter(F.col("z").isNotNull()).count()
    rows = sorted(
        quality_threshold_metrics(spark, SF_SMALL).collect(),
        key=lambda r: r["thresh"],
    )
    assert [r["thresh"] for r in rows] == [1000, 2000, 3000, 4000]
    prev_recall = None
    for r in rows:
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == total
        assert r["precision_milli"] == (1000 * r["tp"]) // max(r["tp"] + r["fp"], 1)
        assert r["recall_milli"] == (1000 * r["tp"]) // max(r["tp"] + r["fn"], 1)
        if prev_recall is not None:
            assert r["recall_milli"] <= prev_recall
        prev_recall = r["recall_milli"]


_BLOOM_SERVE_SCRIPT = CHILD_SYS_PATH + r"""
import json, sys
from pyspark.sql import SparkSession, functions as F

wh, out, sf = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (
    SparkSession.builder.master("local[4]")
    .appName("bloom-serve")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from data_ingestion_from_multiple_directories_linux_spark.catalog import load_table
from data_ingestion_from_multiple_directories_linux_spark.operators.bloomdedup import (
    BLOOM_BITS_TABLE,
    _url_col,
    ingest_bloom_bits,
    probe_bloom,
)
from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
    TableStore,
)

# Day 1 in a NEW session: probe today's batch against ONLY the
# persisted bit table (day 0's URLs are never re-hashed), then append
# today's bits for day 2.
store = TableStore(spark, wh)
d = load_table(spark, sf, "documents").select("doc_id", _url_col().alias("url"))
inc = d.filter(F.col("doc_id") % 3 == 0)
probed = probe_bloom(inc, store.read(BLOOM_BITS_TABLE))
hits = sorted((r["doc_id"], bool(r["hit"])) for r in probed.collect())
ingest_bloom_bits(store, inc.select("url"))
with open(out, "w") as f:
    json.dump(hits, f)
"""


def test_bloom_bits_multisession_serve_and_merge(spark, tmp_path):
    """The Bloom filter is the fourth persistent-state family: day 0
    builds + persists the bit table in this session; day 1 probes in a
    SEPARATE process with a new SparkSession reading only the persisted
    table, and its hit map must equal an in-session recompute (bit
    positions are deterministic per key). Day 1 then APPENDS its own
    bits, and the merged table must equal a from-scratch build over the
    union of both days' keys — the mergeability that lets distributed
    builders union partial frames instead of read-modify-writing a
    monolithic bitmap."""
    import json
    import subprocess
    import sys

    from data_ingestion_from_multiple_directories_linux_spark.operators.bloomdedup import (
        BLOOM_BITS_TABLE,
        _url_col,
        bloom_bits,
        ingest_bloom_bits,
        probe_bloom,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    wh = str(tmp_path / "wh")
    store = TableStore(spark, wh)
    d = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", _url_col().alias("url")
    )
    seen = d.filter(F.col("doc_id") % 3 != 0).select("url")
    inc = d.filter(F.col("doc_id") % 3 == 0)
    ingest_bloom_bits(store, seen)

    script = tmp_path / "serve_bloom.py"
    script.write_text(_BLOOM_SERVE_SCRIPT)
    out_json = tmp_path / "hits.json"
    proc = subprocess.run(
        [sys.executable, str(script), wh, str(out_json), SF_SMALL],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"day-1 process failed:\n{proc.stderr[-4000:]}"
    got = [(i, h) for i, h in json.load(out_json.open())]
    want = sorted(
        (r["doc_id"], bool(r["hit"]))
        for r in probe_bloom(inc, bloom_bits(seen)).collect()
    )
    assert got == want and got

    # merge == rebuild: day-0 ∪ day-1 appended bits equal a from-scratch
    # filter over the union of both days' keys.
    merged = {
        r["bit"] for r in store.read(BLOOM_BITS_TABLE).distinct().collect()
    }
    scratch = {
        r["bit"]
        for r in bloom_bits(seen.unionByName(inc.select("url"))).collect()
    }
    assert merged == scratch


def test_rerank_pandas_scorer_bit_identical_to_jvm(spark):
    """The documented swap-in seam is real: the Arrow-batched
    mapInPandas scorer (where a transformer cross-encoder would run)
    produces BIT-IDENTICAL scores to the JVM expression for every
    stage-1 candidate — same IEEE-double products in the same
    association order, floored to int64."""
    from data_ingestion_from_multiple_directories_linux_spark.functions.vectors import (
        to_double_array,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.reranking import (
        _cross_score_q,
        rerank_scores_pandas,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        QUERY_VEC_ID,
        load_embeddings,
    )

    e = load_embeddings(spark, SF_SMALL).select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    qv = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    cand = e.filter(F.col("vec_id") != QUERY_VEC_ID).crossJoin(F.broadcast(qv))
    jvm = {
        r["vec_id"]: r["s"]
        for r in cand.select(
            "vec_id", _cross_score_q("qv", "v").alias("s")
        ).collect()
    }
    py = {
        r["vec_id"]: r["rerank_n"] for r in rerank_scores_pandas(cand).collect()
    }
    assert py == jvm and len(py) > 100


def test_rerank_model_swap_e2e_shape_unchanged(spark):
    """The escape-hatch claim, end-to-end: a DIFFERENT deterministic
    stub "model" (an Arrow-batched mapInPandas scorer standing in for
    a real transformer cross-encoder) swaps into the rerank pipeline
    over the module's own stage-1 candidate frame, and nothing else
    changes — (a) exactly N_CAND rows reach the Python stage, (b)
    stage 1 keeps the broadcast 1-row query + TakeOrderedAndProject
    heap (no corpus shuffle below the bound), (c) the Python stage
    appears exactly once, ABOVE the candidate bound, and (d) the final
    top-k equals a pure-Python replay of the stub model."""
    import math

    import numpy as np
    import pandas as pd

    from data_ingestion_from_multiple_directories_linux_spark.operators.reranking import (
        N_CAND,
        RERANK_K,
        rerank_candidates,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.similarity import (
        EMB_DIM,
    )

    cand = rerank_candidates(spark, SF_SMALL)
    assert cand.count() == N_CAND  # (a) the model sees the bound, ever

    # the stub model: a pairwise squared-difference scorer with its own
    # weights — deliberately NOT the module's cross-encoder stand-in
    w = ((np.arange(EMB_DIM, dtype=np.int64) * 31) % 17) / 10.0

    def stub_model(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.vstack(pdf["qv"].to_numpy())
            c = np.vstack(pdf["v"].to_numpy())
            d = q - c
            s = np.floor(w * d * d * 1e6).astype(np.int64).sum(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "stub_n": s})

    swapped = (
        cand.mapInPandas(stub_model, "vec_id long, stub_n long")
        .orderBy(F.desc("stub_n"), F.asc("vec_id"))
        .limit(RERANK_K)
    )
    got = [(r["vec_id"], r["stub_n"]) for r in swapped.collect()]

    # (b)+(c) plan shape: broadcast query + candidate heap below, one
    # Python stage above the bound — the tree prints top-down, so the
    # Python node must appear BEFORE the candidate heap in the string
    # (AQE prints Final + Initial plans; assert on the Final only)
    plan = swapped._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1
    heap = f"TakeOrderedAndProject(limit={N_CAND}"
    assert heap in final and "BroadcastExchange" in final
    assert f"TakeOrderedAndProject(limit={RERANK_K}" in final
    assert final.index("MapInPandas") < final.index(heap)
    assert "Exchange hashpartitioning" not in final  # no corpus shuffle

    # (d) pure-Python replay of the stub over the same candidates
    rows = cand.select("vec_id", "v", "qv").collect()
    replay = []
    for r in rows:
        s = sum(
            math.floor(
                ((i * 31) % 17) / 10.0
                * (r["qv"][i] - r["v"][i])
                * (r["qv"][i] - r["v"][i])
                * 1e6
            )
            for i in range(EMB_DIM)
        )
        replay.append((r["vec_id"], s))
    replay.sort(key=lambda t: (-t[1], t[0]))
    assert got == replay[:RERANK_K]


def test_rerank_topk_ivf_batch_shape(spark):
    """The IVF-staged batch rerank returns exactly RERANK_K_IVF rows
    per query, every neighbor is a cell-mate of its query under the
    shared trained assignment, and at least one query's rerank order
    differs from its cosine order (the stage-2 scorer is live)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.reranking import (
        RERANK_K_IVF,
        rerank_topk_ivf,
    )

    rows = rerank_topk_ivf(spark, SF_SMALL).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q and all(len(v) == RERANK_K_IVF for v in by_q.values())
    reordered = 0
    for v in by_q.values():
        by_rerank = [r["neighbor_id"] for r in sorted(v, key=lambda r: r["rank"])]
        by_cosine = [
            r["neighbor_id"]
            for r in sorted(v, key=lambda r: (-r["cosine"], r["neighbor_id"]))
        ]
        reordered += by_rerank != by_cosine
    assert reordered >= 1


def test_classifier_auc_matches_bruteforce_pairs(spark):
    """The rank-statistic AUC equals the O(n²) pair definition computed
    in plain Python: (wins + ties/2) / (npos·nneg), micro-floored."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.calibration import (
        _scored,
        classifier_auc_exact,
    )

    rows = [
        (r["z"], r["pos"])
        for r in _scored(spark, SF_SMALL).collect()
        if r["z"] is not None
    ]
    pos = [z for z, p in rows if p]
    neg = [z for z, p in rows if not p]
    num2 = sum(
        2 if zp > zn else (1 if zp == zn else 0) for zp in pos for zn in neg
    )
    want = (1_000_000 * num2) // (2 * max(len(pos) * len(neg), 1))
    got = classifier_auc_exact(spark, SF_SMALL).collect()[0]
    assert got["npos"] == len(pos) and got["nneg"] == len(neg)
    assert got["auc_micro"] == want


def test_bloom_no_false_negative_property(spark):
    """Hypothesis property: for ANY seen/incoming URL sets, every
    incoming URL that exists in the seen set bloom-hits — the
    no-false-negative guarantee the 'new' verdict's skip-the-join
    optimization rests on. Runs each example through the REAL
    bloom_bits + probe_bloom DataFrame path."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_ingestion_from_multiple_directories_linux_spark.operators.bloomdedup import (
        bloom_bits,
        probe_bloom,
    )

    url = st.text(
        alphabet="abcxyz019/:._%-é", min_size=0, max_size=24
    ).map(lambda s: "u:" + s)

    @settings(max_examples=15, deadline=None)
    @given(
        seen=st.lists(url, min_size=1, max_size=12, unique=True),
        extra=st.lists(url, min_size=0, max_size=6, unique=True),
    )
    def check(seen, extra):
        seen_df = spark.createDataFrame([(u,) for u in seen], "url string")
        inc = list(dict.fromkeys(seen[: len(seen) // 2 + 1] + extra))
        inc_df = spark.createDataFrame([(u,) for u in inc], "url string")
        hits = {
            r["url"]: r["hit"]
            for r in probe_bloom(inc_df, bloom_bits(seen_df)).collect()
        }
        for u in inc:
            if u in seen:
                assert hits[u], (u, seen)

    check()


def test_url_canonicalize_rules(spark):
    """Rule-by-rule pins: fragment/utm stripped, scheme+host (only)
    lowercased, default port dropped but NON-default kept, one trailing
    slash off a non-root path, path case preserved, non-URL strings
    pass through rules 1-2 only, NULL stays NULL."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.urlnorm import (
        url_canonicalize,
    )

    cases = [
        ("https://A.com/X/Y#frag", "https://a.com/X/Y"),
        ("https://a.com/p?utm_x=1", "https://a.com/p"),
        ("https://a.com/p?utm_x=1&q=2", "https://a.com/p?q=2"),
        ("HTTPS://EXAMPLE.com:443/Path/", "https://example.com/Path"),
        ("http://a.com:80/p", "http://a.com/p"),
        ("https://a.com:8443/p", "https://a.com:8443/p"),   # kept
        ("https://a.com/", "https://a.com/"),               # root slash kept
        ("not a url #tail", "not a url "),                  # rules 1-2 only
        (None, None),
        # multi-utm: a leading RUN, an utm-only query, a mid-query run
        ("https://a.com/p?utm_a=1&utm_b=2&q=3", "https://a.com/p?q=3"),
        ("https://a.com/p?utm_a=1&utm_b=2", "https://a.com/p"),
        ("https://a.com/p?q=1&utm_a=2&utm_b=3", "https://a.com/p?q=1"),
        # literal '&' (even '&utm_') in a QUERY-LESS path is path data
        ("https://a.com/a&b", "https://a.com/a&b"),
        ("https://a.com/a&utm_x", "https://a.com/a&utm_x"),
        # trailing '/' in a query VALUE kept; on the PATH stripped even
        # when a query follows; a bare dangling '?' dropped
        ("https://a.com/p?q=2/", "https://a.com/p?q=2/"),
        ("https://a.com/p/?q=1", "https://a.com/p?q=1"),
        ("https://a.com/p?", "https://a.com/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r["c"] for r in df.select(url_canonicalize("u").alias("c")).collect()]
    for (raw, want), g in zip(cases, got):
        assert g == want, (raw, g, want)


def test_url_canonicalize_duckdb_twin(spark):
    """_sql_canonicalize must stay BIT-IDENTICAL to url_canonicalize on
    general inputs, not just the synthesized corpus: run both engines
    over the adversarial case list (multi-utm runs — where DuckDB's
    non-'g' regexp_replace would diverge — literal path '&', query
    slashes, ports, fragments) and compare string-for-string."""
    import duckdb

    from data_ingestion_from_multiple_directories_linux_spark.operators.urlnorm import (
        _sql_canonicalize,
        url_canonicalize,
    )

    urls = [
        "https://a.com/p?utm_a=1&utm_b=2&q=3",
        "https://a.com/p?utm_a=1&utm_b=2&utm_c=3",
        "https://a.com/p?q=1&utm_a=2&utm_b=3&r=4",
        "https://a.com/p?utm_source=feed",
        "https://a.com/a&b",
        "https://a.com/a&utm_x",
        "https://a.com/p?q=2/",
        "https://a.com/p/?q=1",
        "https://a.com/p?",
        "HTTPS://EXAMPLE.com:443/Path/?utm_x=1&Y=2#frag",
        "http://A.com:80/",
        "https://a.com:8443/p/?utm_a&utm_b",
        "ftp://Mixed.Case/Path",
        "no scheme ?utm_a=1&keep=2 #tail",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    got_spark = [
        r["c"] for r in df.select(url_canonicalize("u").alias("c")).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            f"SELECT {_sql_canonicalize('u')} FROM (SELECT ? AS u)", [u]
        ).fetchone()[0]
        for u in urls
    ]
    for u, s, d in zip(urls, got_spark, got_duck):
        assert s == d, (u, s, d)


def test_canonicalize_then_bloom_composition(spark):
    """The urlnorm docstring's composition claim, pinned: a re-crawled
    URL in a DIFFERENT spelling misses the raw-string Bloom filter but
    hits after both sides canonicalize — canonicalization must run as
    the dedup prologue or raw-string dedup under-merges."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.bloomdedup import (
        bloom_bits,
        probe_bloom,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.urlnorm import (
        url_canonicalize,
    )

    seen_raw = spark.createDataFrame(
        [("https://example.com/p/7?utm_source=feed",)], "url string"
    )
    incoming_raw = spark.createDataFrame(
        [("HTTPS://EXAMPLE.com:443/p/7/",)], "url string"
    )
    # raw strings: the respelled URL misses
    raw_hit = probe_bloom(incoming_raw, bloom_bits(seen_raw)).collect()[0]["hit"]
    assert not raw_hit
    # canonicalized on both sides: it hits
    canon = lambda df: df.select(url_canonicalize("url").alias("url"))
    canon_hit = probe_bloom(
        canon(incoming_raw), bloom_bits(canon(seen_raw))
    ).collect()[0]["hit"]
    assert canon_hit


def test_quality_gate_training_descends_and_floors(spark):
    """Invariants the oracle compare can't see: (1) the trajectory is
    actual TRAINING — SSE strictly decreases at every step and the
    weights move off the init; (2) the update floors negative
    gradients (Python // and the oracle's non-negative-mod identity)
    rather than truncating toward zero — pinned on a crafted 2-row
    frame whose gradient is negative and not divisible by n·D."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.registry import (
        QUERIES,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.training import (
        train_linear_gate,
    )

    rows = QUERIES["quality_gate_training"](spark, SF_SMALL).collect()
    assert [r["step"] for r in rows] == [0, 1, 2, 3]
    sses = [r["sse"] for r in rows]
    assert all(a > b for a, b in zip(sses, sses[1:])), sses
    w0 = (rows[0]["w_tok"], rows[0]["w_char"], rows[0]["w_stop"], rows[0]["bias"])
    wk = (rows[-1]["w_tok"], rows[-1]["w_char"], rows[-1]["w_stop"], rows[-1]["bias"])
    assert w0 != wk

    # floor-not-truncate: two rows, only the bias feature active
    # (x = (0, 0, 0, 1)), y = 1000 on both, init bias 0 → residual
    # r = -1000 per row, g_bias = -2000, n = 2; with D_bias = 3 the
    # step is floor(-2000 / 6) = -334 (truncation would give -333),
    # so bias_1 = 0 - (-334) = 334.
    feats = spark.createDataFrame(
        [(0, 0, 0, 1000), (0, 0, 0, 1000)],
        "x_tok long, x_char long, x_stop long, y long",
    )
    traj = train_linear_gate(
        feats, init=(0, 0, 0, 0), steps=1, denoms=(1, 1, 1, 3)
    )
    assert traj[0]["g_bias"] == -2000
    assert traj[1]["bias"] == 334


def test_repeated_window_spans_matches_python_reference(spark):
    """Pin repeated_window_spans against a brute-force pure-Python
    suffix-window reference on a crafted micro-corpus: a shared
    passage at DIFFERENT alignments in two docs (invisible to the
    fixed-span L44 dedup), a within-doc repeat, an all-unique doc
    (absent from the result), and a doc shorter than the window."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.substring_dedup import (
        repeated_window_spans,
    )

    win, min_occ = 8, 2
    shared = "ABCDEFGHIJKLMNOP"  # 16 chars -> repeated at odd offsets
    docs = {
        0: "xxx" + shared + "yyyyyyyy",       # shared at pos 4
        1: "qqqqqqq" + shared + "zz",         # shared at pos 8
        2: "rrrrrrrrrr" + "SAMESAME" * 2 + "uuuuuuuuu",  # within-doc
        3: "0123456789abcdefghij",            # unique
        4: "short",                           # < win
    }

    # brute-force reference
    from collections import Counter, defaultdict

    occ = Counter()
    for t in docs.values():
        for i in range(len(t) - win + 1):
            occ[t[i : i + win]] += 1
    expect = {}
    for d, t in docs.items():
        pos = [
            i + 1
            for i in range(len(t) - win + 1)
            if occ[t[i : i + win]] >= min_occ
        ]
        if not pos:
            continue
        spans = []
        for p in pos:
            if spans and p - spans[-1][-1] <= win:
                spans[-1].append(p)
            else:
                spans.append([p])
        expect[d] = (
            len(pos),
            len(spans),
            sum(s[-1] - s[0] + win for s in spans),
        )

    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_dup_windows"], r["n_spans"], r["dup_chars"])
        for r in repeated_window_spans(df, win=win, min_occ=min_occ).collect()
    }
    assert got == expect
    assert 0 in got and 1 in got and 2 in got      # cross- and within-doc
    assert 3 not in got and 4 not in got


def test_dpo_pairs_decontaminated_and_margin_gated(spark):
    """Invariants the oracle compare can't see: no preference pair may
    contain an eval-slice doc OR a contaminated doc (recomputed via the
    same L31 probe), both sides of a pair are distinct docs from the
    same prompt group, and the margin gate holds (chosen strictly
    outscores rejected by >= MARGIN_MIN)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.calibration import (
        _scored,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.corpus import (
        DECON_EVAL_MOD,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.preference import (
        MARGIN_MIN,
        PROMPT_MOD,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.registry import (
        QUERIES,
    )

    pairs = QUERIES["dpo_preference_pairs"](spark, SF_SMALL).collect()
    assert pairs, "corpus should yield at least one preference pair"

    contaminated = {
        r["doc_id"]
        for r in QUERIES["benchmark_decontamination"](
            spark, SF_SMALL
        ).collect()
    }
    z = {r["doc_id"]: r["z"] for r in _scored(spark, SF_SMALL).collect()}

    for p in pairs:
        c, r = p["chosen_doc_id"], p["rejected_doc_id"]
        assert c != r
        assert c % PROMPT_MOD == p["group_id"]
        assert r % PROMPT_MOD == p["group_id"]
        for d in (c, r):
            assert d % DECON_EVAL_MOD != 0, f"eval doc {d} leaked"
            assert d not in contaminated, f"contaminated doc {d} leaked"
        assert p["margin"] == z[c] - z[r]
        assert p["margin"] >= MARGIN_MIN


def test_crosslingual_near_dup_finds_all_twins(spark):
    """Invariants the oracle can't see: (1) NO FALSE NEGATIVES on the
    planted set — every translated twin pairs with its original at
    concept-jaccard 1.0; (2) nothing same-language is reported; (3) the
    blindness claim that motivates the operator — WITHOUT concept
    normalization the same pipeline finds none of the twins (surface
    shingles of a translation share nothing)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.crosslingual import (
        TWIN_MOD,
        TWIN_OFFSET,
        XLING_NGRAM,
        XLING_THRESHOLD,
        _xling_corpus,
        crosslingual_pairs,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        minhash_pairs,
    )

    corpus = _xling_corpus(spark, SF_SMALL)
    got = {
        (r["id_a"], r["id_b"]): r
        for r in crosslingual_pairs(corpus).collect()
    }
    originals = [
        r["doc_id"]
        for r in corpus.filter(
            (F.col("doc_id") % TWIN_MOD == 0) & (F.col("doc_id") < TWIN_OFFSET)
        ).collect()
    ]
    assert originals
    for d in originals:
        pair = got.get((d, d + TWIN_OFFSET))
        assert pair is not None, f"twin of {d} missed"
        assert pair["jaccard"] == 1.0
        assert pair["lang_a"] != "xx" and pair["lang_b"] == "xx"
    assert all(r["lang_a"] != r["lang_b"] for r in got.values())

    # without normalization the twins are invisible to surface shingles
    raw_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_pairs(
            corpus.select("doc_id", "text"), XLING_NGRAM, XLING_THRESHOLD
        ).collect()
    }
    assert all((d, d + TWIN_OFFSET) not in raw_pairs for d in originals)


def test_trained_gate_calibration_uses_trained_weights(spark):
    """The train->serve composition must actually SERVE the trained
    model: its reliability table differs from the init-weight L129
    table (training moved the weights), while covering the same
    documents (total n equal) with the same base rate (total n_pos
    equal)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators import (  # noqa: F401
        calibration as _cal,
        training as _trn,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.registry import (
        QUERIES,
    )

    init_bins = QUERIES["quality_calibration_bins"](spark, SF_SMALL).collect()
    trained_bins = QUERIES["trained_gate_calibration"](spark, SF_SMALL).collect()
    assert sum(r["n"] for r in init_bins) == sum(r["n"] for r in trained_bins)
    assert sum(r["n_pos"] for r in init_bins) == sum(
        r["n_pos"] for r in trained_bins
    )
    assert {(r["bin"], r["n"]) for r in init_bins} != {
        (r["bin"], r["n"]) for r in trained_bins
    }


def test_grpo_advantages_center_and_share_pool(spark):
    """Invariants the oracle can't see: within every prompt group the
    scaled advantages SUM TO ZERO (the defining property of a group
    baseline), var_num is non-negative and group-constant and matches
    the definition recomputed in Python, and the candidate pool is
    EXACTLY the DPO pool (shared decontamination — no drift between the
    two preference surfaces)."""
    from collections import defaultdict

    from data_ingestion_from_multiple_directories_linux_spark.operators.preference import (
        _clean_candidates,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.registry import (
        QUERIES,
    )

    rows = QUERIES["grpo_group_advantages"](spark, SF_SMALL).collect()
    assert rows
    by_group = defaultdict(list)
    for r in rows:
        by_group[r["group_id"]].append(r)
    for g, rs in by_group.items():
        n = rs[0]["n_samples"]
        assert len(rs) == n >= 2
        assert sum(r["adv_num"] for r in rs) == 0, f"group {g} not centered"
        vs = {r["var_num"] for r in rs}
        assert len(vs) == 1 and min(vs) >= 0
        rewards = [r["reward"] for r in rs]
        s, ss = sum(rewards), sum(x * x for x in rewards)
        assert vs == {n * ss - s * s}
        for r in rs:
            assert r["adv_num"] == n * r["reward"] - s

    pool = {
        (r["group_id"], r["doc_id"])
        for r in _clean_candidates(spark, SF_SMALL).collect()
    }
    grpo_pool = {(r["group_id"], r["doc_id"]) for r in rows}
    multi = {g for g, rs in by_group.items()}
    # every clean candidate in a multi-candidate group appears
    assert grpo_pool == {(g, d) for (g, d) in pool if g in multi}


def test_preference_surfaces_compose(spark):
    """Cross-operator composition (the L99 convention): the DPO pair
    and GRPO advantage surfaces must agree group by group, because they
    share one candidate pool and one reward — the chosen doc carries
    the group-max advantage, the rejected doc the group-min (up to
    score ties, where DPO's doc_id tiebreak picks within the argmax
    set), and the pair margin equals the advantage spread divided by
    the group size."""
    from collections import defaultdict

    from data_ingestion_from_multiple_directories_linux_spark.operators import (  # noqa: F401
        preference as _pref,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.registry import (
        QUERIES,
    )

    pairs = {
        r["group_id"]: r
        for r in QUERIES["dpo_preference_pairs"](spark, SF_SMALL).collect()
    }
    adv = defaultdict(list)
    for r in QUERIES["grpo_group_advantages"](spark, SF_SMALL).collect():
        adv[r["group_id"]].append(r)

    assert pairs, "no pairs to compose"
    for g, p in pairs.items():
        rs = adv[g]
        assert len(rs) == p["n_candidates"]
        hi = max(r["adv_num"] for r in rs)
        lo = min(r["adv_num"] for r in rs)
        hi_docs = {r["doc_id"] for r in rs if r["adv_num"] == hi}
        lo_docs = {r["doc_id"] for r in rs if r["adv_num"] == lo}
        assert p["chosen_doc_id"] in hi_docs
        assert p["rejected_doc_id"] in lo_docs
        n = rs[0]["n_samples"]
        assert p["margin"] * n == hi - lo


def test_repeated_window_spans_occ_cap_guard(spark):
    """The hot-window skew guard's contract: with occ_cap set, windows
    occurring more than occ_cap times vanish from the report (their
    content is mass-boilerplate for the exact-dedup path), while rarer
    duplicated windows are untouched — and occ_cap=None keeps the
    uncapped result."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.substring_dedup import (
        repeated_window_spans,
    )

    win = 8
    hot = "HOTHOTHO"          # win chars, occurs in 4 docs
    rare = "RARERARE"         # occurs in exactly 2 docs
    docs = [
        (0, "aaaa" + hot + "bbbb"),
        (1, "cccc" + hot + "dddd"),
        (2, "eeee" + hot + rare),
        (3, "ffff" + hot + rare),
        (4, "unique text with nothing repeated here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    uncapped = {
        r["doc_id"]: r["n_dup_windows"]
        for r in repeated_window_spans(df, win=win, min_occ=2).collect()
    }
    assert set(uncapped) == {0, 1, 2, 3}

    capped = {
        r["doc_id"]: r["n_dup_windows"]
        for r in repeated_window_spans(
            df, win=win, min_occ=2, occ_cap=3
        ).collect()
    }
    # the 4-occurrence hot window is dropped; the 2-occurrence rare
    # window survives, so only docs 2 and 3 still report spans
    assert set(capped) == {2, 3}
    assert all(capped[d] < uncapped[d] for d in capped)

    same = {
        r["doc_id"]: r["n_dup_windows"]
        for r in repeated_window_spans(
            df, win=win, min_occ=2, occ_cap=None
        ).collect()
    }
    assert same == uncapped


_GATE_SERVE_SCRIPT = CHILD_SYS_PATH + """
import json, sys
from pyspark.sql import SparkSession

wh, out, sf = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from data_ingestion_from_multiple_directories_linux_spark.operators.training import (
    calibration_bins_for_weights,
    load_gate_weights,
)
from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
    TableStore,
)

store = TableStore(spark, wh)
w = load_gate_weights(store)
rows = sorted(
    (r["bin"], r["z_lo"], r["n"], r["n_pos"], r["rate_milli"])
    for r in calibration_bins_for_weights(spark, sf, w).collect()
)
with open(out, "w") as f:
    json.dump({"weights": w, "bins": rows}, f)
spark.stop()
"""


def test_gate_weights_train_once_serve_elsewhere(spark, tmp_path):
    """The model-persistence lifecycle (the IVFPQ/band-index cadence,
    now for the quality gate): train in THIS session, persist the
    weight row, then a SEPARATE process with a brand-new SparkSession
    reloads ONLY the persisted table and must reproduce the trained
    reliability table BIT-IDENTICALLY — integer weights round-trip
    parquet exactly, and the serve-side scoring path is shared code."""
    import json
    import subprocess
    import sys

    from data_ingestion_from_multiple_directories_linux_spark.operators.registry import (
        QUERIES,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.training import (
        _features,
        save_gate_weights,
        train_linear_gate,
    )
    from data_ingestion_from_multiple_directories_linux_spark.sources.table_store import (
        TableStore,
    )

    wh = str(tmp_path / "wh")
    store = TableStore(spark, wh)
    trained = train_linear_gate(_features(spark, SF_SMALL))[-1]
    save_gate_weights(store, trained)

    script = tmp_path / "serve_gate.py"
    script.write_text(_GATE_SERVE_SCRIPT)
    out_json = tmp_path / "bins.json"
    proc = subprocess.run(
        [sys.executable, str(script), wh, str(out_json), SF_SMALL],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"serve process failed:\n{proc.stderr[-4000:]}"
    got = json.load(out_json.open())
    assert got["weights"] == {
        k: trained[k] for k in ("w_tok", "w_char", "w_stop", "bias")
    }
    here = sorted(
        (r["bin"], r["z_lo"], r["n"], r["n_pos"], r["rate_milli"])
        for r in QUERIES["trained_gate_calibration"](spark, SF_SMALL).collect()
    )
    assert [tuple(b) for b in got["bins"]] == here and here


def test_leakage_safe_split_never_straddles(spark):
    """The leakage guarantee the oracle can't see: (1) every near-dup
    PAIR lands entirely inside one split; (2) every duplicate CLUSTER
    is split-homogeneous; (3) singletons keep the naive L30 assignment
    (stability — the guard only moves clustered docs); (4) the NAIVE
    doc-id split straddles at least one pair on the same corpus — the
    failure mode this operator closes."""
    from collections import defaultdict

    from data_ingestion_from_multiple_directories_linux_spark.operators.corpus import (
        SPLIT_TRAIN_BELOW,
        SPLIT_VAL_BELOW,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators import (  # noqa: F401
        leakage_split as _ls,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        JACCARD_CLUSTER_THRESHOLD,
        _cluster_corpus,
        jaccard_pairs,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.registry import (
        QUERIES,
    )

    rows = QUERIES["leakage_safe_split"](spark, SF_SMALL).collect()
    split_of = {r["doc_id"]: r["split"] for r in rows}
    by_rep = defaultdict(set)
    for r in rows:
        by_rep[r["rep"]].add(r["split"])
    assert all(len(s) == 1 for s in by_rep.values())

    corpus = _cluster_corpus(spark, SF_SMALL)
    pairs = [
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(corpus, 4, JACCARD_CLUSTER_THRESHOLD).collect()
    ]
    assert pairs
    assert all(split_of[a] == split_of[b] for a, b in pairs)

    import hashlib

    def naive(doc_id):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[0]
        return (
            "train"
            if h < SPLIT_TRAIN_BELOW
            else ("val" if h < SPLIT_VAL_BELOW else "test")
        )

    # singletons (rep == doc_id) keep the naive assignment
    for r in rows:
        if r["rep"] == r["doc_id"]:
            assert r["split"] == naive(r["doc_id"])
    # and the naive split DOES straddle at least one near-dup pair
    assert any(naive(a) != naive(b) for a, b in pairs)


def test_url_canonicalize_seeded_fuzz_twins(spark):
    """Seeded fuzz over a URL component grammar (300 cases): the Spark
    expression and the DuckDB twin must agree STRING-FOR-STRING on
    every generated URL — schemes/hosts in mixed case, default and
    non-default ports, path segments containing literal '&'/'utm_'/
    uppercase, query strings with utm runs at every position, literal
    '?' inside values, fragments, trailing slashes and bare
    separators. This is the general-input guarantee behind the round-9
    utm/'g'-option fixes, beyond the hand-picked adversarial list."""
    import random

    import duckdb

    from data_ingestion_from_multiple_directories_linux_spark.operators.urlnorm import (
        _sql_canonicalize,
        url_canonicalize,
    )

    rng = random.Random(20260815)
    schemes = ["https", "HTTPS", "http", "Http", "ftp", ""]
    hosts = ["example.com", "EXAMPLE.com", "A.b.C.de", "x-y.io"]
    ports = ["", ":443", ":80", ":8443", ":0443"]
    segs = ["p", "Path", "a&b", "utm_x", "a&utm_c", "X%20y", "q?v"]
    params = [
        "utm_a=1", "utm_b", "utm_source=f&x", "q=2", "X=Y/", "a=b?c",
        "utm_c=3", "k=", "=v", "&", "utm_",
    ]
    frags = ["", "#f", "#sec/2?x=1", "#"]

    def make_url():
        s = rng.choice(schemes)
        u = f"{s}://" if s else ""
        u += rng.choice(hosts) + rng.choice(ports)
        u += "".join(
            "/" + rng.choice(segs) for _ in range(rng.randint(0, 3))
        )
        if rng.random() < 0.3:
            u += "/"
        if rng.random() < 0.7:
            u += "?" + "&".join(
                rng.choice(params) for _ in range(rng.randint(0, 4))
            )
        u += rng.choice(frags)
        return u

    urls = [make_url() for _ in range(300)]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    got_spark = [
        r["c"]
        for r in df.coalesce(1)
        .select(url_canonicalize("u").alias("c"))
        .collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            f"SELECT {_sql_canonicalize('u')} FROM (SELECT ? AS u)", [u]
        ).fetchone()[0]
        for u in urls
    ]
    mismatches = [
        (u, s, d)
        for u, s, d in zip(urls, got_spark, got_duck)
        if s != d
    ]
    assert not mismatches, mismatches[:5]
