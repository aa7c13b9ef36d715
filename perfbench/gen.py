"""Seeded input generators for the benchmark workloads.

Everything a workload reads is made here from ``--seed``: the same seed
writes byte-identical files, so two runs of one seed see the same inputs.
Nothing outside the run's work directory is read.

* :func:`write_query_tables` — the ten catalog tables the registered
  queries read (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``), shaped like the sf0.01 test corpus: the same columns,
  parquet types, value domains and planted near-duplicate documents.
* :class:`UploadPlan` — per-facility JSON upload batches for the ingest
  engine, with the planted truth the output checks compare against:
  per-file status and reason, valid and quarantined row counts, and the
  PII marker that masking must remove.
* :func:`write_doc_shard` — JSON-lines document shards for the
  streaming maintainers.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

#: table sizes of the generated query corpus (the sf0.01 shape)
QUERY_SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "hot", "old", "large", "blue", "cold", "new")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random-vocabulary documents; about 5% copy an earlier document and
    append ' dup' — the near-duplicates the dedup operators find."""
    texts: list[str] = []
    for i in range(n):
        if texts and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return texts


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def write_query_tables(dest: str, seed: int) -> None:
    """Write the ten catalog tables as ``<dest>/<name>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1])
    os.makedirs(dest, exist_ok=True)
    n = QUERY_SIZES

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(dest, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
    })
    put("supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    put("part", {
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n["part"])],
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 1),
    })
    n_o = n["orders"]
    put("orders", {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n_o).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000, 500000, n_o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_o)],
    })
    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    put("lineitem", {
        "l_orderkey": np.repeat(np.arange(n_o, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n["part"], n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], n_l).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_l)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_l),
    })
    n_e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e))
    put("events", {
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_e).astype(np.int64),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_e)],
        "value": _money(rng, 0.01, 490.0, n_e),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_e)],
    })
    n_d = n["documents"]
    texts = doc_texts(rng, n_d)
    put("documents", {
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_d, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_v = n["embeddings"]
    vecs = unit_vectors(rng, n_v)
    put("embeddings", {
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_v).astype(np.int32),
    })


# ----------------------------------------------------------------------
# ingest uploads with planted truth
# ----------------------------------------------------------------------

#: marker carried by every PII value; masking must leave none behind
PII_MARK = "PIIMARK"
#: ingest tables: patient_person (constant masking, date_of_birth),
#: hts_client (struct masking of a JSON payload, date_visit), biometric
#: (column exclusion, date_enrollment)
INGEST_TABLES = ("patient_person", "hts_client", "biometric")
BAD_DATE_SHARE = 0.04


def row_profile(n: int) -> list[int]:
    """Rows per file for a batch of ``n``: the quantiles of a Pareto(1.5)
    tail, so every batch of one size carries the same rows in total."""
    return [min(400, int(1 + 8 * ((1 - (k + 0.5) / n) ** (-1 / 1.5) - 1))) for k in range(n)]


@dataclass
class FileTruth:
    facility: str
    file_name: str
    table: str
    status: str  # success | failed
    reason: str  # "" | malformed | empty | quarantine
    valid: int
    bad: int


@dataclass
class UploadPlan:
    """Seeded upload tree under ``root``; ``truth`` maps (facility,
    file_name) to the newest planted version of each file."""

    root: str
    seed: int
    n_facilities: int = 32
    truth: dict[tuple[str, str], FileTruth] = field(default_factory=dict)
    _serial: int = 0

    def _rng(self, tag: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, 2 if tag >= 0 else 5, abs(tag)])

    def facility(self, i: int) -> str:
        return f"FAC{i % self.n_facilities:03d}"

    def _records(
        self, rng: np.random.Generator, table: str, fac: str, n: int, n_bad: int
    ) -> list[dict]:
        recs = []
        for j in range(n):
            bad = j < n_bad
            date = "31/02/2020" if bad else f"19{int(rng.integers(50, 99))}-0{int(rng.integers(1, 10))}-1{int(rng.integers(0, 10))}"
            uid = f"u-{fac}-{self._serial}-{j}"
            if table == "patient_person":
                recs.append({
                    "id": j, "uuid": uid,
                    "surname": f"{PII_MARK}S{j}", "first_name": f"{PII_MARK}F{j}",
                    "other_name": "" if j % 3 else f"{PII_MARK}O{j}",
                    "full_name": f"{PII_MARK}N{j}",
                    "hospital_number": f"{PII_MARK}H{j}",
                    "nin_number": f"{PII_MARK}I{j}",
                    "date_of_birth": date, "archived": 0, "facility_id": fac,
                })
            elif table == "hts_client":
                payload = {
                    "surname": f"{PII_MARK}S{j}", "first_name": f"{PII_MARK}F{j}",
                    "phone_number": f"{PII_MARK}P{j}", "visit_kind": "walk-in",
                    "score": int(rng.integers(0, 100)),
                }
                recs.append({
                    "id": j, "uuid": uid, "date_visit": date,
                    "extra": {"type": "contact", "value": json.dumps(payload)},
                })
            else:
                recs.append({
                    "id": j, "uuid": uid, "match_type": "FINGER",
                    "match_person_uuid": f"m-{j}", "match_biometric_id": f"b-{j}",
                    "date_enrollment": date, "template": f"T{int(rng.integers(0, 10**6))}",
                })
        return recs

    def add_files(
        self, n_files: int, stamp: datetime, kinds: bool = True, force_bad: int = 0
    ) -> list[FileTruth]:
        """Write ``n_files`` new files stamped ``stamp``. A batch's shape
        depends only on its size; the seed picks the order and the values.
        Row counts follow one skewed profile (most files small, a few
        large). With ``kinds``, 4% of the files (at least ``force_bad``)
        carry bad-date rows, and one in a hundred (at least one) is
        malformed and as many are empty. Facilities are taken in turn from
        a seeded starting point."""
        rng = self._rng(-1 - self._serial)
        sizes = rng.permutation(row_profile(n_files))
        kind = [""] * n_files
        if kinds:
            n_bad = max(force_bad, round(BAD_DATE_SHARE * n_files))
            n_odd = max(1, n_files // 100)
            kind = ["quarantine"] * n_bad + ["malformed"] * n_odd + ["empty"] * n_odd
            kind = list(rng.permutation(kind + [""] * (n_files - len(kind))))
        first_fac = int(rng.integers(0, self.n_facilities))
        out = []
        for k in range(n_files):
            self._serial += 1
            s = self._serial
            fac = self.facility(first_fac + k)
            table = INGEST_TABLES[s % len(INGEST_TABLES)]
            n = int(sizes[k])
            ts = (stamp + timedelta(seconds=s % 60)).strftime("%Y%m%d%H%M%S")
            name = f"{table}_{s}_{ts}.json"
            path = os.path.join(self.root, fac, name)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            if kind[k] == "malformed":
                body, t = '[{"id": 1, "uuid": "x", ', FileTruth(fac, name, table, "failed", "malformed", 0, 0)
            elif kind[k] == "empty":
                body, t = "[]", FileTruth(fac, name, table, "failed", "empty", 0, 0)
            else:
                n_bad = max(1, n // 2) if kind[k] == "quarantine" else 0
                body = json.dumps(self._records(self._rng(s), table, fac, n, n_bad))
                t = FileTruth(
                    fac, name, table, "failed" if n_bad else "success",
                    kind[k], n - n_bad, n_bad,
                )
            with open(path, "w") as f:
                f.write(body)
            self.truth[(fac, name)] = t
            out.append(t)
        return out

    def reupload_fixed(self, t: FileTruth) -> FileTruth:
        """Re-upload a quarantined file with its dates corrected; the
        engine must purge the first attempt's rows before re-appending."""
        rng = self._rng(10**9 + len(self.truth) + self._serial)
        self._serial += 1
        n = t.valid + t.bad
        body = json.dumps(self._records(rng, t.table, t.facility, n, 0))
        path = os.path.join(self.root, t.facility, t.file_name)
        with open(path, "w") as f:
            f.write(body)
        new = FileTruth(t.facility, t.file_name, t.table, "success", "", n, 0)
        self.truth[(t.facility, t.file_name)] = new
        return new

    def json_bytes(self, files: list[FileTruth]) -> int:
        return sum(os.path.getsize(os.path.join(self.root, t.facility, t.file_name)) for t in files)


def tree_digest(root: str) -> str:
    """sha256 over every (relative path, content) under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# ----------------------------------------------------------------------
# streaming shards
# ----------------------------------------------------------------------


def write_doc_shard(path: str, rng: np.random.Generator, first_id: int, n: int) -> list[tuple]:
    """JSON-lines documents (doc_id, source, text); returns the rows."""
    texts = doc_texts(rng, n)
    rows = [(first_id + i, f"src{(first_id + i) % N_SOURCES}", t) for i, t in enumerate(texts)]
    # hidden until complete: file stream sources skip dot-files
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "w") as f:
        for d, s, t in rows:
            f.write(json.dumps({"doc_id": d, "source": s, "text": t}) + "\n")
    os.rename(tmp, path)
    return rows
