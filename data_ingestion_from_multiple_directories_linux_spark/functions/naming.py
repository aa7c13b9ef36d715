"""Filename / path → lineage parsing (SURVEY.md §2.9 C1–C3, §1.4).

The reference's filename grammar (FIXTURES.md B1):
``<root>/<facility_id>/<table>_<batch_id>_<yyyymmddHHMMSS>[_decrypted].json``
— table derived by stripping numeric parts (file_loader.py:288-309; SQL
analogue file_ingestion_summary_report.sql:29), batch id = second-to-last
``_`` token (file_loader.py:556), facility = parent directory
(file_loader.py:264-265).

All parsing is regex Column expressions over ``input_file_name()`` so
lineage is computed inside the scan projection, not in a driver loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: strips `_<digits>` runs and the (optionally `_decrypted`) .json suffix.
TABLE_STRIP_RE = r"(_[0-9]+)+(_decrypted)?\.json$"
BATCH_RE = r"_([0-9]+)_[0-9]{14}(?:_decrypted)?\.json$"
TS_RE = r"_([0-9]{14})(?:_decrypted)?\.json$"


def decode_uri_name(c: Column) -> Column:
    """Invert ``input_file_name()``'s URI percent-encoding back to the
    raw filesystem name. '+' is escaped first because ``url_decode`` is
    form-decoding ('+' → space) while URI paths keep '+' literal —
    without this the decoded name diverges from the on-disk name for
    any path containing '+'. ``try_url_decode`` + coalesce: callers of
    ``file_name_of``/``facility_of`` may pass raw (already-decoded)
    path columns, and a raw name with a stray literal '%' (e.g.
    'report 100%.json') must pass through unchanged instead of throwing
    ILLEGAL_URL_DECODE (advisor-flagged contract hazard). A raw name
    that happens to contain a VALID %XX sequence still decodes — only
    ``input_file_name()`` (always encoded) is ambiguity-free, and
    internal callers feed exactly that."""
    return F.coalesce(
        F.try_url_decode(F.regexp_replace(c, r"\+", "%2B")), c
    )


def file_name_of(path: Column | str | None = None) -> Column:
    """Bare filename from a full path (defaults to ``input_file_name()``),
    DECODED to the raw filesystem name — keys must match driver-side
    file metadata (discovery/purge/audit joins), not the encoded URI."""
    c = F.input_file_name() if path is None else (F.col(path) if isinstance(path, str) else path)
    return decode_uri_name(F.element_at(F.split(c, "/"), -1))


def facility_of(path: Column | str | None = None) -> Column:
    """Facility id = parent directory name (file_loader.py:264-265),
    decoded like :func:`file_name_of`."""
    c = F.input_file_name() if path is None else (F.col(path) if isinstance(path, str) else path)
    return decode_uri_name(F.element_at(F.split(c, "/"), -2))


def table_of(file_name: Column | str) -> Column:
    """Target staging table from the filename (file_loader.py:288-309)."""
    c = F.col(file_name) if isinstance(file_name, str) else file_name
    return F.regexp_replace(c, TABLE_STRIP_RE, "")


def batch_of(file_name: Column | str) -> Column:
    """Batch id token (file_loader.py:556 ``split('_')[-2]``)."""
    c = F.col(file_name) if isinstance(file_name, str) else file_name
    return F.regexp_extract(c, BATCH_RE, 1)


def derive_table_name(file_name: str) -> str:
    """Driver-side twin of :func:`table_of` for routing a file list to
    per-table reads (the engine groups files by table before scanning)."""
    import re

    return re.sub(TABLE_STRIP_RE, "", file_name)


def derive_batch_id(file_name: str) -> str:
    import re

    m = re.search(BATCH_RE, file_name)
    return m.group(1) if m else ""
