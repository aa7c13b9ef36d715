"""Target-schema registry (SURVEY.md §1.2).

The reference derives each staging table's schema at load time from
``information_schema.columns`` and maps PG types through a 15-entry dict
(reference file_loader.py:45-58, :562-580). Here known tables register a
StructType; unknown tables fall back to schema-on-read inference — the
tolerance the reference's ``else: String`` fallback (file_loader.py:580)
provides.

Date-bearing columns are registered as STRING so the validation/quarantine
pass (functions.cleansing) sees the raw value; the engine casts them to
timestamp after validation, mirroring pandas ``parse_dates`` + per-value
checks (file_loader.py:417, :498-521).
"""

from __future__ import annotations

from pyspark.sql import types as T


def _s(name: str) -> T.StructField:
    return T.StructField(name, T.StringType(), True)


def _l(name: str) -> T.StructField:
    return T.StructField(name, T.LongType(), True)


#: Known ingestion tables (FIXTURES.md B1; field lists observed in the
#: reference's transform/validation code).
TABLE_SCHEMAS: dict[str, T.StructType] = {
    # masking file_loader.py:615-621; uuid/archived file_loader.py:211-216
    "patient_person": T.StructType(
        [
            _l("id"),
            _s("uuid"),
            _s("surname"),
            _s("first_name"),
            _s("other_name"),
            _s("full_name"),
            _s("hospital_number"),
            _s("nin_number"),
            _s("date_of_birth"),
            _l("archived"),
            _s("facility_id"),
        ]
    ),
    # nested extra struct with JSON-string payload, file_loader.py:606
    "hts_client": T.StructType(
        [
            _l("id"),
            _s("uuid"),
            _s("date_visit"),
            T.StructField(
                "extra",
                T.StructType([_s("type"), _s("value")]),
                True,
            ),
        ]
    ),
    # masking file_loader.py:608-613
    "hts_index_elicitation": T.StructType(
        [
            _l("id"),
            _s("uuid"),
            _s("last_name"),
            _s("first_name"),
            _s("middle_name"),
            _s("phone_number"),
            _s("alt_phone_number"),
            _s("date_of_birth"),
        ]
    ),
    # column exclusion on load, file_loader.py:600-603
    "biometric": T.StructType(
        [
            _l("id"),
            _s("uuid"),
            _s("match_type"),
            _s("match_person_uuid"),
            _s("match_biometric_id"),
            _s("date_enrollment"),
            _s("template"),
        ]
    ),
    # dsd row-oriented path, nested dict serialized dsd_loader.py:637-639
    "dsd_devolvement": T.StructType(
        [
            _l("id"),
            _s("uuid"),
            _s("date_devolved"),
            T.StructField("extra", T.MapType(T.StringType(), T.StringType()), True),
        ]
    ),
}


def schema_for_table(table: str) -> T.StructType | None:
    """Registered schema, or None → infer (schema-on-read)."""
    return TABLE_SCHEMAS.get(table)


def schema_drift_report(
    observed: T.StructType, table: str
) -> list[dict[str, str]]:
    """Data-contract check: diff an OBSERVED schema (what a staged table
    or an arriving batch actually carries) against the registered target
    schema — the guard a long-running ingest needs when producers evolve
    (the reference re-derives schemas from information_schema each load,
    file_loader.py:45-58, so producer drift silently changes its staging
    DDL; here drift is surfaced instead).

    Returns one finding per drifted column, each
    ``{"column", "kind", "expected", "observed"}`` with kind ∈
    {missing (target column absent), extra (unregistered column —
    lineage columns are expected extras and skipped), type_mismatch}.
    Empty list = contract holds. Pure metadata — no data scan."""
    target = schema_for_table(table)
    if target is None:
        raise ValueError(f"no registered schema for {table!r}")
    lineage = {
        "stg_file_name", "stg_datim_id", "stg_batch_id", "stg_load_time",
        "_corrupt_record",
    }
    obs = {f.name: f.dataType for f in observed.fields}
    tgt = {f.name: f.dataType for f in target.fields}
    findings: list[dict[str, str]] = []
    for name, dt in tgt.items():
        if name not in obs:
            findings.append(
                {"column": name, "kind": "missing",
                 "expected": dt.simpleString(), "observed": ""}
            )
        elif obs[name] != dt:
            findings.append(
                {"column": name, "kind": "type_mismatch",
                 "expected": dt.simpleString(),
                 "observed": obs[name].simpleString()}
            )
    for name, dt in obs.items():
        if name not in tgt and name not in lineage:
            findings.append(
                {"column": name, "kind": "extra",
                 "expected": "", "observed": dt.simpleString()}
            )
    return sorted(findings, key=lambda f: (f["kind"], f["column"]))
