"""Structured Streaming surface (SURVEY.md §2.12, M4).

The reference's operating model is cron micro-batch over a file queue
(README.md:74-78 hourly/30-min crons + the sync_file state machine +
pgrep single-instance locks). Structured Streaming is the idiomatic Spark
equivalent: the availableNow trigger ≙ one cron tick, the
checkpoint ≙ sync_file's processed-state tracking (exactly-once per
file), ``foreachBatch`` ≙ the per-batch audit writes.
"""

from .stream_ingest import StreamingIngestion  # noqa: F401
