"""Bench harness (SURVEY.md M6; driver contract).

Times every registered `queries()` entry at `$SPARK_GRAFT_SF_DIR`
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per query: 1 warm-up-free timed run + 1 repeat, report the min (first run
pays JVM/codegen warm-up for its plan; min is the steady-state figure).
Execution forces a full materialization without driver transfer via
``df.write.format("noop")`` — the same work a sink would do, none of the
collect cost.

Also records end-to-end ingestion throughput (files/sec) on a synthetic
JSON tree — the reference's own operating metric (50k files/hour cap,
file_loader.py:255) — under extra key ``ingest``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _release_leftover_blocks(spark) -> None:
    """Drop the DataFrame cache entries the previous query left behind
    (persist() inside a query pins blocks for the SESSION). Left alone,
    a 186-query × REPS pass accumulates hundreds of dead cached frames
    whose GC/BlockManager pressure measurably inflates LATE-alphabet
    queries (minhash_estimate_calibration reproduced 1.6s → ~4s purely
    from the accumulated prefix). Released OUTSIDE the timed window, so
    every query is measured against a clean cache — which is also what
    a fresh cluster job would see.

    Deliberately ONLY the DataFrame cache manager: localCheckpoint RDD
    blocks are left alone, because the similarity module's session
    memos (_CENTROID_CACHE / _PQ_CODEBOOK_CACHE — train-once,
    serve-many) hold checkpointed frames across invocations, and
    dropping their blocks kills every later IVF/PQ query with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. The per-query checkpoint
    residue (host-count-sized rank tables and the like) is tiny next
    to the corpus-sized cached frames this clears."""
    spark.catalog.clearCache()


def _stage_metrics(spark) -> list[tuple[int, int, int]] | None:
    """[(stageId, shuffleReadBytes, shuffleWriteBytes)] from the JVM
    AppStatusStore (works with the UI disabled — the in-memory status
    listener always populates it). Returns None if the py4j surface
    ever changes; the bench must not die on a metrics probe."""
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm, gw = sc._jvm, sc._gateway
        lst = store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out = []
        it = lst.iterator()
        while it.hasNext():
            s = it.next()
            out.append(
                (
                    int(s.stageId()),
                    int(s.shuffleReadBytes()),
                    int(s.shuffleWriteBytes()),
                )
            )
        return out
    except Exception:
        return None


def _run_once(fn, spark) -> tuple[float, dict | None]:
    """Time plan construction + full materialization (noop sink). The
    construction must sit inside the timer: iterative operators (e.g.
    duplicate_clusters' label propagation) do eager checkpointed work
    while the plan is being built, not at write time. After the timer
    stops, leftover cached/checkpoint blocks are released so queries
    cannot degrade each other across the serial pass.

    Also returns the run's total shuffle read/write bytes (stages
    created during THIS run, diffed by stage id against the status
    store): the scale evidence that is immune to cache semantics and
    host load. The status store retains only spark.ui.retainedStages
    stages — a run creating more than that would silently undercount,
    so the sample carries ``"truncated": true`` when the store is at
    its retention limit instead of reporting a confident number
    (round-11 advice).
    """
    before = _stage_metrics(spark)
    mark = max((sid for sid, _, _ in before), default=-1) if before is not None else -1
    t0 = time.perf_counter()
    df = fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    shuffle = None
    after = _stage_metrics(spark)
    if before is not None and after is not None:
        shuffle = {
            "read": sum(r for sid, r, _ in after if sid > mark),
            "write": sum(w for sid, _, w in after if sid > mark),
        }
        try:
            retained = int(spark.conf.get("spark.ui.retainedStages", "1000"))
        except Exception:
            retained = 1000
        if len(after) >= retained:
            shuffle["truncated"] = True
    _release_leftover_blocks(spark)
    return dt, shuffle


#: Arrow-batched Python-worker queries (mapInPandas / UDTF paths): their
#: first run can pay Python worker-pool spawn cost, which is bimodal
#: across rounds (VERDICT r06 item 2: media_pixel_stats twice moved >2×
#: round-over-round purely from spawn cost). For these, record
#: {cold, warm} explicitly and report WARM as the steady-state figure —
#: round-over-round mover comparisons must use warm, not min-of-N.
PY_WORKER_QUERIES = frozenset(
    {
        "media_dimensions",
        "media_audio_stats",
        "media_video_stats",
        "media_pixel_stats",
        "image_near_dup_ahash",
        "audio_fingerprint_classes",
        "udtf_char_chunks",
    }
)


def bench_queries(
    spark,
) -> tuple[dict[str, float], dict[str, dict], dict[str, dict]]:
    import __spark_entry__ as entry_mod

    out: dict[str, float] = {}
    cold_warm: dict[str, dict] = {}
    shuffle_bytes: dict[str, dict] = {}
    for name, fn in sorted(entry_mod.queries().items()):
        runs = [_run_once(fn, spark) for _ in range(max(1, REPS))]
        times = [t for t, _ in runs]
        # shuffle volume from the LAST rep (steady state: no cold-start
        # retries); byte counts are load/cache-independent per plan
        if runs[-1][1] is not None:
            shuffle_bytes[name] = runs[-1][1]
        if name in PY_WORKER_QUERIES:
            # cold = first run (worker spawn + plan warm-up); warm =
            # best of the rest (steady state). With REPS=1 both equal
            # the single run.
            warm = min(times[1:]) if len(times) > 1 else times[0]
            cold_warm[name] = {
                "cold": round(times[0], 4),
                "warm": round(warm, 4),
            }
            out[name] = round(warm, 4)
        else:
            out[name] = round(min(times), 4)
    return out, cold_warm, shuffle_bytes


#: the pair-generating / iterative ops whose scaling behavior carries the
#: 100 TB claim — everything else is scan-shaped
SCALE_OPS = (
    "minhash_lsh_near_dup",
    "ngram_jaccard_pairs",
    "duplicate_clusters",
    "embedding_near_dup_ivf",
    "embedding_near_dup_lsh",
    "simhash_fingerprint",
    # round-8 additions — both LINEAR by construction (bloom probe is a
    # projection + a bounded-sliver join; rerank stage 2 is
    # corpus-size-independent), so their decade ratios certify the
    # bound holds, not that bucketing tamed a quadratic
    "bloom_url_dedup",
    "rerank_topk_cross",
    # round-9 additions — the window-frequency pass shuffles hashes and
    # joins only duplicated positions (amplification's per-copy cipher
    # keeps within-copy boilerplate repeats, so dup volume scales
    # linearly); crosslingual rides the banded-LSH pipeline (per-copy
    # cipher commutes with the token-reverse concept map, so planted
    # twins keep matching within each copy)
    "repeated_substring_spans",
    "crosslingual_near_dup",
    # round-9 continuation additions — all LINEAR by construction and
    # measured to certify the bound: bm25's anchors live in copy 0 only
    # (doc_id < 400), so query count is fixed while the index grows;
    # pagerank's host set is fixed (mod 24) while edges grow linearly;
    # covariance is a single scan with a fixed d² key space. (The
    # deliberately-quadratic audit knn_label_eval is NOT here: its
    # seed pool grows with the corpus by design — the documented 100 TB
    # path swaps stage 1 to IVF cells, L131-style.)
    "bm25_topk",
    "host_pagerank",
    "embedding_covariance",
    # round-12 addition — the production auto-K IVF configuration
    # (K=choose_k(n)≈√n): its decade ratios ARE the measured √n rule,
    # replacing the retired hand-rolled scaledK one-off
    "embedding_near_dup_ivf_autok",
)
SCALE_SMALL_DIR = os.environ.get(
    "SPARK_GRAFT_SCALE_SMALL_DIR", "/root/testdata/sf0.01"
)


def bench_scale(spark, big: dict[str, float]) -> dict:
    """Empirical scale curve for the bucketed ops: time at the small SF
    vs the (already-measured) big SF. Data grows 10x between the driver's
    SFs; a bucketed design should grow far closer to 10x (linear) than
    100x (quadratic/all-pairs). ``ratio`` = t_big / t_small."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    out: dict[str, dict] = {}
    for name in SCALE_OPS:
        if name not in qs or name not in big:
            continue
        best = float("inf")
        for _ in range(max(1, REPS)):
            t0 = time.perf_counter()
            df = qs[name](spark, SCALE_SMALL_DIR)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            _release_leftover_blocks(spark)
        out[name] = {
            "small_sec": round(best, 4),
            "big_sec": big[name],
            "ratio": round(big[name] / best, 2) if best > 0 else None,
        }
    return out


AMP_COPIES = int(os.environ.get("SPARK_GRAFT_AMP_COPIES", "10"))


def _amplified_dir(spark, tmp: str) -> str:
    """Materialize a ~AMP_COPIES× corpus from $SF_DIR's documents +
    embeddings (the only tables the SCALE_OPS read) for the 100×-vs-
    small scale point. Amplification preserves WITHIN-copy duplicate
    structure without inventing cross-copy near-dups:

    * documents: per-copy substitution cipher (``translate`` with a
      rotated alphabet) — bijective, so within-copy shingle overlap is
      identical, while cross-copy shingle sets are disjoint;
    * embeddings: per-copy ±1 sign pattern (period k+1) — an orthogonal
      transform, so within-copy inner products are EXACT, while
      cross-copy cosines collapse toward 0 (roughly half the dims flip
      relative sign).

    So dup density per row stays constant while rows grow ~10×: the fair
    setup for measuring how the bucketed ops scale with data volume."""
    from pyspark.sql import functions as F

    from data_ingestion_from_multiple_directories_linux_spark.catalog import (
        load_table,
    )

    out = os.path.join(tmp, "sf_amp")
    os.makedirs(out, exist_ok=True)
    letters = "abcdefghijklmnopqrstuvwxyz"

    docs = load_table(spark, SF_DIR, "documents")
    doc_copies = []
    for k in range(AMP_COPIES):
        rot = letters[k:] + letters[:k]
        cipher = F.translate(
            "text", letters + letters.upper(), rot + rot.upper()
        )
        doc_copies.append(
            docs.select(
                (F.col("doc_id") + k * 1_000_000).alias("doc_id"),
                (cipher if k else F.col("text")).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    amp_docs = doc_copies[0]
    for c in doc_copies[1:]:
        amp_docs = amp_docs.unionByName(c)
    amp_docs.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    def _sign_flip(k):
        # closure (not a default arg: pyspark reads the lambda's arity)
        def f(x, i):
            return x * (1 - 2 * (F.floor(i / F.lit(k + 1)) % 2)).cast("float")

        return f

    emb = load_table(spark, SF_DIR, "embeddings")
    emb_copies = []
    for k in range(AMP_COPIES):
        sign = _sign_flip(k)
        emb_copies.append(
            emb.select(
                (F.col("vec_id") + k * 1_000_000).alias("vec_id"),
                F.transform("embedding", sign).alias("embedding"),
                "label",  # rerank_topk_cross reads it
            )
        )
    amp_emb = emb_copies[0]
    for c in emb_copies[1:]:
        amp_emb = amp_emb.unionByName(c)
    amp_emb.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    return out


def bench_scale_100x(spark, small: dict) -> dict:
    """Third scale point: SCALE_OPS on the amplified corpus (~100× the
    small SF's data). A bucketed design should stay orders of magnitude
    under the ~10000× a quadratic all-pairs would cost; ``ratio_100x``
    = t_amplified / t_small."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    tmp = tempfile.mkdtemp(prefix="bench_amp_")
    out: dict[str, dict] = {}
    try:
        amp = _amplified_dir(spark, tmp)
        for name in SCALE_OPS:
            if name not in qs or name not in small:
                continue
            t0 = time.perf_counter()
            df = qs[name](spark, amp)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            _release_leftover_blocks(spark)
            small_sec = small[name]["small_sec"]
            out[name] = {
                "amp_sec": round(dt, 4),
                "ratio_100x": round(dt / small_sec, 2) if small_sec > 0 else None,
            }
        # the production auto-K (~sqrt(n)) configuration is the
        # REGISTERED query embedding_near_dup_ivf_autok (L173) — it
        # rides the generic SCALE_OPS path above, so the sqrt(n) rule is
        # measured at sf0.01 / sf0.1 / ~100x with no special case here
        # (round-11 verdict item 8 retired the hand-rolled one-off).
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


#: boilerplate-blast sizes for the skew-guard bench: copies of one
#: document — its shingles' df equals the copy count, so the uncapped
#: inverted index joins copies² rows per boilerplate shingle. Two
#: points expose the growth LAW, not just one ratio: 4× more copies
#: must cost the uncapped join ~16× (quadratic) but the capped one ~4×
#: (linear scan + df-count; the blast never reaches its self-join).
SKEW_POINTS = tuple(
    int(x)
    for x in os.environ.get("SPARK_GRAFT_SKEW_COPIES", "4000,16000").split(",")
)


def bench_skew_guard(spark) -> dict:
    """The df_cap stop-shingle guard, measured: exact n-gram Jaccard
    over $SF_DIR documents + a boilerplate blast, capped (df_cap=1000
    drops the blast's shingles before the self-join) vs uncapped, at
    each SKEW_POINTS blast size."""
    from pyspark.sql import functions as F

    from data_ingestion_from_multiple_directories_linux_spark.catalog import (
        load_table,
    )
    from data_ingestion_from_multiple_directories_linux_spark.operators.dedup import (
        JACCARD_NGRAM_THRESHOLD,
        jaccard_pairs,
    )

    boiler_text = (
        "all rights reserved unauthorized reproduction of this document "
        "is strictly prohibited contact the publisher for permissions"
    )
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    points = []
    for copies in SKEW_POINTS:
        boiler = spark.range(copies).select(
            (F.col("id") + 90_000_000).alias("doc_id"),
            F.lit(boiler_text).alias("text"),
        )
        corpus = docs.unionByName(boiler)

        def timed(df_cap):
            t0 = time.perf_counter()
            jaccard_pairs(
                corpus, 4, JACCARD_NGRAM_THRESHOLD, df_cap=df_cap
            ).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        capped, uncapped = timed(1000), timed(None)
        points.append(
            {
                "boiler_copies": copies,
                "capped_sec": round(capped, 4),
                "uncapped_sec": round(uncapped, 4),
                "uncapped_over_capped": round(uncapped / capped, 2)
                if capped > 0
                else None,
            }
        )
    out: dict = {"points": points}
    if len(points) >= 2:
        first, last = points[0], points[-1]
        out["copies_growth"] = round(
            last["boiler_copies"] / first["boiler_copies"], 2
        )
        if first["uncapped_sec"] > 0:
            out["uncapped_growth"] = round(
                last["uncapped_sec"] / first["uncapped_sec"], 2
            )
        if first["capped_sec"] > 0:
            out["capped_growth"] = round(
                last["capped_sec"] / first["capped_sec"], 2
            )
    return out


def _make_upload_tree(
    uploads: str, n_files: int, rows_per_file: int, table: str = "patient_person"
) -> None:
    for i in range(n_files):
        fac = f"FAC{i % 8:03d}"
        os.makedirs(os.path.join(uploads, fac), exist_ok=True)
        recs = [
            {
                "id": i * rows_per_file + j,
                "uuid": f"u-{i}-{j}",
                "surname": f"S{j}",
                "first_name": f"F{j}",
                "other_name": None,
                "full_name": f"F{j} S{j}",
                "hospital_number": f"H{j}",
                "nin_number": f"N{j}",
                "date_of_birth": "1990-01-15",
                "archived": 0,
                "facility_id": fac,
            }
            for j in range(rows_per_file)
        ]
        fn = f"{table}_{i}_2025010314{i:04d}.json"
        with open(os.path.join(uploads, fac, fn), "w") as f:
            json.dump(recs, f)


#: ingest batch sizes — three decade points expose whether per-file
#: cost amortizes with batch size (BASELINE.md's claim): files/sec
#: should be monotone increasing toward the fixed-overhead asymptote.
#: 4000 files is the reference's real batch scale (file_loader.py:255
#: caps a cycle at LIMIT 50000 queue rows) and stresses the per-file
#: bookkeeping (markers, audit rows) at that scale.
INGEST_POINTS = tuple(
    int(x)
    for x in os.environ.get("SPARK_GRAFT_INGEST_FILES", "40,400,4000").split(",")
)


def bench_pipeline(spark) -> dict:
    """End-to-end composed training-data pipeline (operators/funnel.py):
    canonical-URL dedup → exact dedup → MinHash near-dup dedup (edges
    reused by the split) → trained quality gate → benchmark
    decontamination → leakage-safe split → curriculum phases → sequence
    packing, as ONE lineage over $SF_DIR's documents + synthesized twin
    families. The figure of merit is train tokens packed per wall-second
    — the number a 100 TB run scales by — plus the per-stage funnel
    counts so a stage silently passing everything (or nothing) is
    visible round over round."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.funnel import (
        training_funnel,
    )

    def run(sf_dir: str) -> tuple[float, dict]:
        _release_leftover_blocks(spark)
        t0 = time.time()
        r = training_funnel(spark, sf_dir)
        r["result"].write.format("noop").mode("overwrite").save()
        wall = round(time.time() - t0, 4)
        _release_leftover_blocks(spark)
        return wall, r

    wall, r = run(SF_DIR)
    # scale curve for the COMPOSITION: the individual stages have
    # measured decade/100x ratios, but a composed lineage can hide a
    # superlinear stage behind a fixed-overhead one — the small-SF point
    # exposes the growth law of the whole DAG (data grows 10x between
    # the default SFs' documents tables; a linear composition should
    # grow well under 10x wall)
    wall_small, r_small = run(SCALE_SMALL_DIR)
    amp_point = None
    if os.environ.get("SPARK_GRAFT_PIPELINE_AMP") == "1":
        # optional third point (~10x SF_DIR documents via the cipher
        # amplifier): off by default — it multiplies the whole funnel's
        # cost — run it when the growth law itself is in question
        tmp = tempfile.mkdtemp(prefix="bench_funnel_amp_")
        try:
            amp_dir = _amplified_dir(spark, tmp)
            wall_amp, r_amp = run(amp_dir)
            amp_point = {
                "amp_copies": AMP_COPIES,
                "amp_sec": wall_amp,
                "amp_tokens_train": r_amp["tokens_train"],
                "amp_counts": r_amp["counts"],
                "wall_ratio_vs_big": round(wall_amp / wall, 2) if wall else None,
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return {
        "wall_sec": wall,
        "counts": r["counts"],
        "tokens_train": r["tokens_train"],
        "n_sequences": r["n_sequences"],
        "tokens_per_sec": round(r["tokens_train"] / wall, 1),
        "scale": {
            "small_sf": _sf_of(SCALE_SMALL_DIR),
            "small_sec": wall_small,
            "small_tokens_train": r_small["tokens_train"],
            "small_counts": r_small["counts"],
            "big_sec": wall,
            "wall_ratio": round(wall / wall_small, 2) if wall_small else None,
            "tokens_ratio": round(
                r["tokens_train"] / r_small["tokens_train"], 2
            )
            if r_small["tokens_train"]
            else None,
            "amp": amp_point,
        },
    }


def bench_ingest(spark, rows_per_file: int = 200) -> dict:
    """Files/sec + rows/sec of the full engine path (read → cleanse →
    quarantine → lineage → partitioned write → audit), at each
    INGEST_POINTS batch size, plus a two-table concurrent-vs-serial
    point for the G5 scheduler fan-out.

    A small untimed warm-up run (separate warehouse) pays the one-time
    JVM costs (parquet committer init, write-path codegen) first, so the
    timed runs measure the steady state a cron micro-batch actually runs
    at — the same convention the query bench uses (min over reps)."""
    from data_ingestion_from_multiple_directories_linux_spark.ingest.engine import IngestionEngine

    tmp = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        warm = os.path.join(tmp, "warm_up")
        _make_upload_tree(warm, n_files=4, rows_per_file=20)
        IngestionEngine(spark, os.path.join(tmp, "warm_wh")).run(warm)

        points = []
        for n_files in INGEST_POINTS:
            uploads = os.path.join(tmp, f"up{n_files}")
            _make_upload_tree(uploads, n_files, rows_per_file)
            eng = IngestionEngine(spark, os.path.join(tmp, f"wh{n_files}"))
            t0 = time.perf_counter()
            rep = eng.run(uploads)
            dt = time.perf_counter() - t0
            points.append(
                {
                    "files": rep.files_ingested,
                    "rows": rep.records_ingested,
                    "sec": round(dt, 4),
                    "files_per_sec": round(rep.files_ingested / dt, 2),
                    "rows_per_sec": round(rep.records_ingested / dt, 1),
                }
            )
        out: dict = {"points": points}
        if len(points) >= 2 and points[0]["files_per_sec"]:
            out["amortization"] = round(
                points[-1]["files_per_sec"] / points[0]["files_per_sec"], 2
            )

        # G5 evidence: the same two-table tree ingested with concurrent
        # per-table submission (default thread-pool fan-out) vs a forced
        # serial driver loop (submit_workers=1). Concurrent should be <=
        # serial — the scheduler overlaps the per-table jobs.
        n2 = max(8, INGEST_POINTS[0] // 2)
        timings = {}
        for label, workers in (("serial", 1), ("concurrent", None)):
            uploads = os.path.join(tmp, f"g5_{label}")
            _make_upload_tree(uploads, n2, rows_per_file, table="patient_person")
            _make_upload_tree(uploads, n2, rows_per_file, table="visits")
            eng = IngestionEngine(
                spark, os.path.join(tmp, f"g5wh_{label}"), submit_workers=workers
            )
            t0 = time.perf_counter()
            rep = eng.run(uploads)
            timings[label] = round(time.perf_counter() - t0, 4)
            assert rep.files_ingested == 2 * n2
        out["two_table_g5"] = {
            "files_per_table": n2,
            "serial_sec": timings["serial"],
            "concurrent_sec": timings["concurrent"],
            "speedup": round(timings["serial"] / timings["concurrent"], 2)
            if timings["concurrent"] > 0
            else None,
        }
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: probe widths of the measured recall/cost curve (L170's machinery
#: parameterized — the production nprobe knob as a 4-point curve, not
#: the two registered samples; round-11 verdict item 6).
ANN_RECALL_NPROBES = (1, 2, 3, 4)


def bench_ann_recall_curve(spark) -> dict:
    """recall@K vs nprobe, measured per round: for each probe width,
    the mean/min recall_permille over the fixed anchor set and the
    wall time of the full eval (train memoized after the first point —
    the marginal cost of a wider probe is the pair stage, which is the
    number a deployment trades recall against)."""
    from data_ingestion_from_multiple_directories_linux_spark.operators.annrecall import (
        ivf_recall_frame,
    )

    out: dict[str, dict] = {}
    for nprobe in ANN_RECALL_NPROBES:
        t0 = time.perf_counter()
        rows = ivf_recall_frame(spark, SF_DIR, nprobe=nprobe).collect()
        dt = time.perf_counter() - t0
        _release_leftover_blocks(spark)
        if rows:
            rec = [r["recall_permille"] for r in rows]
            out[f"nprobe{nprobe}"] = {
                "recall_permille_mean": round(sum(rec) / len(rec), 1),
                "recall_permille_min": min(rec),
                "n_queries": len(rows),
                "sec": round(dt, 4),
            }
    return out


def main() -> None:
    from data_ingestion_from_multiple_directories_linux_spark.session import get_spark

    spark = get_spark(app_name="bench", cpus=CPUS)
    queries, cold_warm, shuffle_bytes = bench_queries(spark)
    scale = bench_scale(spark, queries)
    scale_100x = bench_scale_100x(spark, scale)
    skew = bench_skew_guard(spark)
    ann_curve = bench_ann_recall_curve(spark)
    ingest = bench_ingest(spark)
    pipeline = bench_pipeline(spark)
    total = round(sum(queries.values()), 4)
    print(
        json.dumps(
            {
                "metric": "sum_min_query_sec",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "py_worker_cold_warm": cold_warm,
                "sf": _sf_of(SF_DIR),
                "cpus": CPUS,
                "n_queries": len(queries),
                "scale": {
                    "small_sf": _sf_of(SCALE_SMALL_DIR),
                    "big_sf": _sf_of(SF_DIR),
                    "data_ratio": 10.0,
                    "ops": scale,
                    "amp_copies": AMP_COPIES,
                    "ops_100x": scale_100x,
                },
                "skew_guard": skew,
                "ann_recall_curve": ann_curve,
                "ingest": ingest,
                "pipeline": pipeline,
                "shuffle_bytes": shuffle_bytes,
            }
        )
    )
    # The driver parses the FINAL stdout line for its per-query
    # comparison and 8-vs-32-core scaling block; a final line without
    # the per-query map leaves both empty. The final line therefore
    # carries the FULL ``queries`` map — the declared bench contract —
    # rounded to 10 ms and dumped with compact separators so the line
    # stays small (~8 KB); the 4-decimal figures plus the full
    # scale/skew/shuffle diagnostics ride the line above.
    slowest = dict(
        sorted(queries.items(), key=lambda kv: -kv[1])[:5]
    )
    # shuffle volume for the 10 heaviest queries — the compact line's
    # scale-evidence channel (full per-query map rides the line above)
    shuffle_top = {
        name: shuffle_bytes[name]
        for name, _ in sorted(queries.items(), key=lambda kv: -kv[1])[:10]
        if name in shuffle_bytes
    }
    last_point = ingest["points"][-1] if ingest.get("points") else {}
    print(
        json.dumps(
            {
                "metric": "sum_min_query_sec",
                "value": total,
                "unit": "sec",
                "sf": _sf_of(SF_DIR),
                "cpus": CPUS,
                "n_queries": len(queries),
                "queries": {k: round(v, 2) for k, v in queries.items()},
                "slowest": slowest,
                "py_worker_cold_warm": cold_warm,
                "scale_ratio_100x": {
                    k: v.get("ratio_100x") for k, v in scale_100x.items()
                },
                "skew_guard_growth": {
                    k: skew.get(k)
                    for k in ("copies_growth", "uncapped_growth", "capped_growth")
                },
                "ann_recall_curve": {
                    k: v["recall_permille_mean"]
                    for k, v in ann_curve.items()
                },
                "ingest": {
                    "amortization": ingest.get("amortization"),
                    "files_per_sec_max_batch": last_point.get("files_per_sec"),
                    "g5_speedup": ingest.get("two_table_g5", {}).get("speedup"),
                },
                "pipeline": {
                    "wall_sec": pipeline["wall_sec"],
                    "tokens_per_sec": pipeline["tokens_per_sec"],
                    "scale_wall_ratio": pipeline["scale"]["wall_ratio"],
                    "scale_tokens_ratio": pipeline["scale"]["tokens_ratio"],
                },
                "shuffle_bytes_top10": shuffle_top,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
