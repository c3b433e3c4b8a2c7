"""sparkmerge.profile.measure: the repeat count and the reading in each
warm-up band, on a fake clock (nothing sleeps)."""

from __future__ import annotations

import pytest

from sparkmerge import profile


class FakeClock:
    """``perf_counter`` stand-in: a run advances it by its scripted length,
    ``before`` by a large gap that must never reach a reading."""

    def __init__(self, run_secs):
        self.now = 0.0
        self.run_secs = list(run_secs)
        self.events: list[str] = []

    def perf_counter(self) -> float:
        return self.now

    def run(self) -> None:
        self.events.append("run")
        self.now += self.run_secs.pop(0)

    def before(self) -> None:
        self.events.append("before")
        self.now += 1000.0


@pytest.mark.parametrize(
    "run_secs, runs, reading",
    [
        # < 2 s: median of 5 after the warm-up
        ([0.5, 0.4, 0.9, 0.3, 0.6, 0.7], 6, 0.6),
        # 2-10 s: median of 3 after the warm-up
        ([3.0, 2.5, 4.0, 3.5], 4, 3.5),
        # 10-60 s: min of the warm-up and one more run
        ([20.0, 15.0], 2, 15.0),
        ([20.0, 25.0], 2, 20.0),
        # >= 60 s: the warm-up is the reading
        ([70.0], 1, 70.0),
    ],
)
def test_measure_runs_and_reading_per_band(monkeypatch, run_secs, runs, reading):
    clock = FakeClock(run_secs)
    monkeypatch.setattr(profile, "perf_counter", clock.perf_counter)
    assert profile.measure(clock.run) == pytest.approx(reading)
    assert clock.events == ["run"] * runs
    assert clock.run_secs == []


@pytest.mark.parametrize("run_secs", [[0.5] * 6, [3.0] * 4, [20.0] * 2, [70.0]])
def test_measure_calls_before_outside_the_timer_before_every_run(monkeypatch, run_secs):
    clock = FakeClock(run_secs)
    monkeypatch.setattr(profile, "perf_counter", clock.perf_counter)
    assert profile.measure(clock.run, before=clock.before) == pytest.approx(run_secs[0])
    assert clock.events == ["before", "run"] * len(run_secs)
