"""The benchmark's own tests; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

from datetime import datetime

import pytest

from perfbench import gen, stats
from perfbench.run import run_ops
from perfbench.trace import NullTracer, Span, Tracer, covered, self_times


def _tree(tmp_path, seed: int) -> str:
    plan = gen.UploadPlan(str(tmp_path / f"up{seed}-{len(list(tmp_path.iterdir()))}"), seed)
    plan.add_files(40, datetime(2025, 1, 1), force_bad=2)
    plan.reupload_fixed(next(t for t in plan.truth.values() if t.reason == "quarantine"))
    return gen.tree_digest(plan.root)


def test_same_seed_same_tree_other_seed_other_tree(tmp_path):
    assert _tree(tmp_path, 7) == _tree(tmp_path, 7)
    assert _tree(tmp_path, 7) != _tree(tmp_path, 8)


def test_query_tables_are_seeded(tmp_path):
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.write_query_tables(str(tmp_path / d), seed)
    digest = {d: gen.tree_digest(str(tmp_path / d)) for d in "abc"}
    assert digest["a"] == digest["b"] != digest["c"]


def test_planted_truth_covers_every_failure_kind(tmp_path):
    plan = gen.UploadPlan(str(tmp_path / "up"), 1)
    files = plan.add_files(1000, datetime(2025, 1, 1))
    reasons = {t.reason for t in files}
    assert reasons == {"", "quarantine", "malformed", "empty"}
    for t in files:
        assert (t.status == "success") == (t.reason == "")
        assert t.bad == 0 or t.reason == "quarantine"


def test_tail_rule():
    # too few samples for a percentile above the median with ten beyond it
    assert stats.tail_rank(21) is None
    assert stats.tail([3.0, 1.0, 2.0]) == 3.0
    assert stats.tail_percentile(8) == 100.0
    # at 32 samples: rank 21 has exactly ten samples above it
    xs = [float(i) for i in range(32)]
    assert stats.tail_rank(32) == 21
    assert stats.tail(xs) == 21.0
    assert sum(x > stats.tail(xs) for x in xs) == 10
    assert stats.tail_percentile(32) == pytest.approx(100 * 21 / 31)
    assert stats.tail_rank(22) == 11 and 11 > (22 - 1) / 2


def test_spread_is_interquartile_over_median():
    assert stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_self_time_with_overlapping_children():
    # children overlap each other and one runs past the parent's end
    assert covered([(1, 4), (3, 6), (8, 12)], 0, 10) == pytest.approx(7)
    spans = [
        Span(1, "root", None, 0, 0.0, 10.0),
        Span(2, "a", 1, 0, 1.0, 4.0),
        Span(3, "b", 1, 1, 3.0, 6.0),
        Span(4, "c", 1, 2, 8.0, 12.0),
        Span(5, "a.x", 2, 0, 2.0, 3.0),
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(3.0)
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[5] == pytest.approx(1.0)
    for s in spans:
        kids = [(k.t0, k.t1) for k in spans if k.parent == s.sid]
        assert selfs[s.sid] + covered(kids, s.t0, s.t1) == pytest.approx(s.wall)


def test_worker_thread_spans_take_the_main_span_as_parent():
    import threading

    tr = Tracer()
    with tr.span("op"):
        t = threading.Thread(target=lambda: tr.span("child").__enter__())
        t.start()
        t.join(timeout=5)
    assert not t.is_alive()
    op, child = tr.spans
    assert child.parent == op.sid


class _Flaky:
    """Op 1 raises, op 2 returns output its check rejects, the end-of-run
    check reports one mismatch."""

    def op(self, i):
        if i == 1:
            raise RuntimeError("injected")
        return i

    def check_op(self, i, out):
        return ["injected mismatch"] if out == 2 else []

    def after_op(self):
        pass

    def check_end(self):
        return ["end mismatch"]


def test_failures_are_counted_not_dropped():
    samples, attempted, failed, errors = run_ops(_Flaky(), 5, NullTracer())
    assert attempted == 6
    assert failed == 3
    assert len(samples) == 3
    assert any("injected" in e for e in errors)
