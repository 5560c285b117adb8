"""Throughput counts the generator's rows; the tail statistic follows
its definition."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from perfbench import stats
from perfbench.trace import Tracer
from perfbench.workloads import Ctx, Outcome, _stream_loop

WAVES = [400, 100, 100, 120, 80, 100]  # prior state, then timed


class FakeLoop:
    """Stands in for WaveLoop: every wave commits after one second, and
    Spark's progress reports each batch's input four times over, the
    way a foreachBatch body that re-reads its batch does."""

    def __init__(self, sizes):
        self.staged = [f"wave-{k}" for k in range(len(sizes))]
        self.sizes = sizes
        self.landed = 0

    def land(self):
        batch = self.landed
        self.landed += 1
        return batch, 1000.0 + batch, 1.0

    def progress(self, batches):
        return {
            b: SimpleNamespace(
                batchId=b,
                numInputRows=4 * self.sizes[b],
                durationMs={"addBatch": 900, "triggerExecution": 950},
                timestamp="1970-01-01T00:16:40.010Z",
            )
            for b in batches
        }


@pytest.mark.parametrize("traced", [False, True])
def test_items_per_s_counts_generator_rows_not_input_rows(traced):
    out = Outcome()
    ctx = Ctx(None, "", 0, seconds=60.0, tracer=Tracer(enabled=traced))
    _stream_loop(ctx, out, FakeLoop(WAVES), WAVES)

    timed = WAVES[1:]
    assert out.rows == timed
    assert out.attempted == len(WAVES)
    assert stats.items_per_s(out.rows, out.latencies) == sum(timed) / len(timed)
    if traced:
        # what Spark reports is recorded as a layer metric, never as
        # throughput
        assert out.layers["stream.input_records_per_batch"] == [
            4 * n for n in timed
        ]


def test_stream_loop_times_min_timed_waves_past_the_deadline():
    out = Outcome()
    ctx = Ctx(None, "", 0, seconds=0.0, tracer=Tracer(enabled=False))
    _stream_loop(ctx, out, FakeLoop(WAVES), WAVES, untimed=2, min_timed=3)

    assert out.rows == WAVES[2:5]
    assert out.attempted == 5
    assert out.setup_s == 1.0  # the warm-up wave


def test_items_per_s_needs_one_count_per_operation():
    with pytest.raises(ValueError):
        stats.items_per_s([100, 100], [1.0])


def test_tail_is_the_sample_with_ten_beyond_it():
    xs = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct, n = stats.tail(list(reversed(xs)))
    assert (value, n) == (20.0, 30)
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(x > value for x in xs) == stats.TAIL_BEYOND


def test_tail_falls_back_to_the_maximum_on_few_samples():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_interleave_spreads_every_class_evenly():
    import numpy as np

    from perfbench.workloads import _interleave

    classes = np.array(["a"] * 40 + ["b"] * 20 + ["c"] * 140)
    order = _interleave(classes, np.random.default_rng(7))
    assert sorted(order) == list(range(len(classes)))
    for k in range(0, 200, 50):
        chunk = classes[order[k:k + 50]]
        assert [(chunk == c).sum() for c in "abc"] == [10, 5, 35]
