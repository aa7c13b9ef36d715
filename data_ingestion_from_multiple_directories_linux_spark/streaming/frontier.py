"""Streaming crawl-frontier dedup: canonicalize → Bloom → exact rescue
(SURVEY.md §2.12a L140).

The batch pieces exist separately — URL canonicalization (L134, the
dedup prologue), the mergeable persisted Bloom filter (L128), and the
canonicalize-then-bloom composition pin (tests/test_llm_pipeline.py).
This module runs the composition where a crawler actually needs it: a
CONTINUOUS stream of discovered URLs, where each micro-batch must emit
only resources never seen in ANY earlier batch, across raw spellings,
crash-replays and checkpoint restarts.

Per micro-batch (foreachBatch, availableNow ≙ the reference's cron
tick):

1. **canonicalize** raw URLs and keep one row per canonical key
   (min doc_id — the exact-dedup keeper convention) — respellings of
   one resource inside the batch collapse here;
2. **Bloom probe** against the persisted bit table: negatives are
   PROVABLY new (the filter has no false negatives) and emit without
   touching any corpus-sized state;
3. **exact rescue** for the positives: a Bloom hit is either a true
   dup or a false positive, so positives — alone — pay an anti-join
   against the emitted-output table (the L128 "positives alone pay
   the verify shuffle" rule). A crawl frontier that skipped this would
   silently drop one-in-(FP-rate) genuinely-new pages forever;
4. **state append**: the batch's new canonical keys land in the
   output table, and their bits APPEND to the filter (bloom_bits is
   mergeable by union — no read-modify-write of a bitmap).

Idempotency under foreachBatch's at-least-once contract: output,
dispatch and carry rows are per-batch segments of three
:class:`~.segments.SegmentTable` instances (streaming/segments.py
states the scope and replay rules); the rescue join reads the output
table WITHOUT the replaying batch's own rows, so a replay re-derives
exactly the same emission even though its keys are already in the
filter (they all probe positive and all get rescued). Duplicate bit
appends are harmless by the filter's union-merge law.

At 100 TB: the filter is the only broadcast state (one array row, the
L128 sizing/sharding notes apply); the exact-rescue join is bounded by
the Bloom-positive count, not the stream volume; everything else is
map-only per batch.

With ``host_masses`` supplied, each batch additionally runs a
POLITENESS DISPATCH tick consuming the crawl-budget apportionment
(L147's exact largest-remainder arithmetic): per-tick per-host fetch
budgets proportional to host mass, unused allowance banked with a cap,
oldest-pending-first dispatch, replay-idempotent — see
:class:`StreamingCrawlFrontier`. Politeness state (dispatch log, carry
table) is host/tick-sized, never stream-sized; the per-host ranking
window runs over that host's pending backlog only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.bloomdedup import bloom_bits, probe_bloom
from ..operators.linkgraph import largest_remainder
from ..operators.politeness import (
    CARRY_CAP_TICKS,
    UNKNOWN_HOST_ALLOWANCE,
    UNKNOWN_HOST_CAP,
    politeness_tick,
)
from ..operators.urlnorm import url_canonicalize
from ..sources.table_store import TableStore
from .segments import SegmentTable, drain, json_stream

#: emitted-frontier table: one row per first-seen canonical resource.
FRONTIER_OUT = "crawl_frontier_out"
#: persisted filter bits for the frontier (separate from the batch
#: operator's table — a different seen-set).
FRONTIER_BITS = "crawl_frontier_bits"
#: politeness-dispatch table: one row per (tick, fetched URL).
FRONTIER_DISPATCH = "crawl_frontier_dispatch"
#: per-tick carry-over state: one row per (tick, host).
FRONTIER_CARRY = "crawl_frontier_carry"
#: default fetches per tick, apportioned across hosts by mass.
#: (CARRY_CAP_TICKS / UNKNOWN_HOST_ALLOWANCE are re-exported from
#: operators.politeness — the shared per-tick arithmetic.)
TICK_BUDGET = 64


class StreamingCrawlFrontier:
    """Maintain a first-seen-only crawl frontier over a JSON file
    stream of (doc_id, url) discovery records.

    With ``host_masses`` supplied (a (host, mass) frame — in production
    the host_pagerank rank_micro table, L145), each micro-batch also
    runs a POLITENESS DISPATCH tick: the tick's fetch budget is
    apportioned across hosts by largest-remainder (the exact
    crawl_budget_apportionment arithmetic, L147, imported), a host may
    additionally spend allowance it banked in earlier ticks (carry-over,
    capped at CARRY_CAP_TICKS × max(its per-tick share, 1) — the floor
    keeps the bank meaningful for hosts whose apportionment is 0 on a
    tick), and the oldest pending frontier URLs per host — discovery
    order, deterministic tiebreaks — are marked dispatched up to that
    allowance. ``host_masses`` is pinned at construction, so hosts
    discovered mid-crawl are absent from the apportionment; they drain
    on ``unknown_host_allowance`` fetches per tick (default 1) instead
    of starving in the backlog until the mass table is retrained. The
    per-tick arithmetic is operators.politeness.politeness_tick — the
    same function the oracle-checked ``frontier_dispatch_tick`` batch
    twin replays, so the streamed dispatch is driver-verified by proxy.
    Unknown-host spend is additionally CAPPED in aggregate
    (``unknown_host_cap`` hosts per tick, md5(host:tick)-rotated — a
    batch discovering 10k new hosts cannot dispatch 10k over-budget
    fetches in one tick; the rotation drains the capped backlog fairly
    across ticks). Dispatch and
    carry rows are keyed by (checkpoint scope, tick) and replayed ticks
    purge-then-rewrite their own rows while reading only strictly-older
    carry state, so a crash-replay re-derives the identical dispatch —
    the same at-least-once discipline as the frontier emission itself.

    CROSS-VERSION replay caveat: the per-tick arithmetic has evolved
    (round 11 added the unknown-host floor and the max(alloc, 1) carry
    floor; round 12 added the aggregate unknown-host cap + rotation).
    Replay-identical holds within one code version — a tick replayed
    AFTER an upgrade may re-derive a different dispatch than the rows
    downstream consumers saw pre-upgrade. When upgrading a live
    deployment, start a fresh checkpoint scope (new checkpoint_dir) so
    upgraded arithmetic begins at tick 0 of its own state rather than
    rewriting history recorded under the old rules."""

    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        source_dir: str,
        checkpoint_dir: str,
        schema: str = "doc_id bigint, url string",
        host_masses: DataFrame | None = None,
        tick_budget: int = TICK_BUDGET,
        carry_cap_ticks: int = CARRY_CAP_TICKS,
        unknown_host_allowance: int = UNKNOWN_HOST_ALLOWANCE,
        unknown_host_cap: int | None = UNKNOWN_HOST_CAP,
    ) -> None:
        self.spark = spark
        self.store = store
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.schema = schema
        # host-count-sized; pin it so every tick reuses one materialized
        # copy instead of re-deriving the mass query per batch
        self.host_masses = (
            host_masses.localCheckpoint(eager=True)
            if host_masses is not None
            else None
        )
        self.tick_budget = tick_budget
        self.carry_cap_ticks = carry_cap_ticks
        self.unknown_host_allowance = unknown_host_allowance
        self.unknown_host_cap = unknown_host_cap
        self.out = SegmentTable(
            store, FRONTIER_OUT, checkpoint_dir, keys=("url", "doc_id")
        )
        self.dispatch = SegmentTable(
            store, FRONTIER_DISPATCH, checkpoint_dir,
            keys=("host", "url", "doc_id"),
        )
        self.carry = SegmentTable(
            store, FRONTIER_CARRY, checkpoint_dir, keys=("host", "carry")
        )

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        canon = (
            batch_df.filter(F.col("url").isNotNull())
            .select("doc_id", url_canonicalize("url").alias("url"))
            .groupBy("url")
            .agg(F.min("doc_id").cast("long").alias("doc_id"))
        )

        if self.store.exists(FRONTIER_BITS):
            bits = self.store.read(FRONTIER_BITS)
        else:
            bits = self.spark.createDataFrame([], "bit bigint")
        probed = probe_bloom(canon, bits)
        negatives = probed.filter(~F.col("hit")).select("url", "doc_id")
        positives = probed.filter(F.col("hit")).select("url", "doc_id")

        # exact rescue: positives not in the emitted table (excluding a
        # replaying batch's own rows) are Bloom false positives
        prior = self.out.without(batch_id)
        if prior is not None:
            rescued = positives.join(
                prior.select("url").distinct(), "url", "left_anti"
            )
        else:
            rescued = positives

        # materialize before writing: ``new`` derives from the CURRENT
        # output-table files via the rescue join, and the overwrite
        # below swaps those files out — a lazy plan evaluated after the
        # swap (the bits append) would read deleted parquet. One batch's
        # emissions are small; the checkpoint also means the rescue join
        # runs once, not once per consumer.
        new = self.out.stamp(negatives.unionByName(rescued), batch_id)
        new = new.localCheckpoint(eager=True)
        self.out.write(new, prior)

        # append the new keys' bits — duplicate appends are harmless
        # (bloom_bits merges by union), so no replay guard is needed
        self.store.append(FRONTIER_BITS, bloom_bits(new.select("url")))

        if self.host_masses is not None:
            self._dispatch_tick(int(batch_id))

    @staticmethod
    def _host(url) -> F.Column:
        """Host of a CANONICAL url (lowercase scheme/host guaranteed;
        stops before any non-default port, path, query, fragment)."""
        return F.regexp_extract(url, r"^[a-z][a-z0-9+.\-]*://([^/:?#]+)", 1)

    def _dispatch_tick(self, tick: int) -> None:
        """One politeness tick: apportion → add banked carry → dispatch
        oldest-pending per host → bank the (capped) remainder."""
        out = self.store.read(FRONTIER_OUT).select(
            "batch_id", "url", "doc_id"
        )
        prior_d = self.dispatch.without(tick)
        if prior_d is not None:
            pending = out.join(
                prior_d.select("url").distinct(), "url", "left_anti"
            )
        else:
            pending = out

        # this tick's exact largest-remainder apportionment (Σ == budget)
        alloc = largest_remainder(self.host_masses, self.tick_budget).select(
            "host", "alloc"
        )
        # newest strictly-older carry row per host — a replayed tick
        # must NOT read its own carry output
        if self.store.exists(FRONTIER_CARRY):
            cprev = (
                self.store.read(FRONTIER_CARRY)
                .filter(self.carry.owned & (F.col("batch_id") < tick))
                .withColumn(
                    "_rn",
                    F.row_number().over(
                        W.partitionBy("host").orderBy(F.desc("batch_id"))
                    ),
                )
                .filter(F.col("_rn") == 1)
                .select("host", "carry")
            )
        else:
            cprev = self.spark.createDataFrame([], "host string, carry bigint")
        # the shared per-tick arithmetic (operators.politeness — the
        # oracle-checked frontier_dispatch_tick runs the same function):
        # allowance = alloc + banked carry, unknown hosts get the floor
        # allowance, dispatch oldest-discovery-first, bank the capped
        # remainder
        hosted = pending.select(
            self._host(F.col("url")).alias("host"), "url", "doc_id", "batch_id"
        )
        disp_t, carry_t = politeness_tick(
            hosted,
            alloc,
            cprev,
            ["batch_id", "doc_id", "url"],
            carry_cap_ticks=self.carry_cap_ticks,
            unknown_host_allowance=self.unknown_host_allowance,
            unknown_host_cap=self.unknown_host_cap,
            tick=tick,
            # the dispatch plan reads the DISPATCH table this tick then
            # overwrites — pin it before any consumer runs post-swap
            materialize=lambda df: df.localCheckpoint(eager=True),
        )
        carry_rows = self.carry.stamp(carry_t, tick).localCheckpoint(
            eager=True
        )  # reads CARRY
        self.dispatch.write(self.dispatch.stamp(disp_t, tick), prior_d)
        self.carry.write(carry_rows, self.carry.without(tick))

    def run_available_now(self) -> None:
        drain(
            json_stream(self.spark, self.schema, self.source_dir),
            self._process_batch,
            self.checkpoint_dir,
        )

    def frontier(self) -> DataFrame:
        """Every first-seen canonical resource emitted so far:
        (url, doc_id, batch_id)."""
        return self.store.read(FRONTIER_OUT).select(
            "url", "doc_id", "batch_id"
        )

    def dispatched(self) -> DataFrame:
        """Every politeness-dispatched fetch so far:
        (batch_id, host, url, doc_id) — batch_id is the dispatch tick."""
        return self.store.read(FRONTIER_DISPATCH).select(
            "batch_id", "host", "url", "doc_id"
        )

    def pending(self) -> DataFrame:
        """Frontier URLs emitted but not yet dispatched (the backlog a
        host's future allowance will drain in discovery order)."""
        out = self.frontier()
        if not self.store.exists(FRONTIER_DISPATCH):
            return out
        return out.join(
            self.store.read(FRONTIER_DISPATCH).select("url").distinct(),
            "url",
            "left_anti",
        )
