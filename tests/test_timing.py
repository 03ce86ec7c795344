"""The shared steal-gated timing protocol (tools/timing.py), pinned with
a substituted /proc/stat reader and clock — no Spark."""

from __future__ import annotations

import types

import pytest

from tools import timing


class FakeHost:
    """Each job run advances the clock by its seconds and the CPU
    counters by 1000 jiffies, ``steal`` of them stolen."""

    def __init__(self, monkeypatch, runs):
        self.runs = list(runs)  # (seconds, steal jiffies out of 1000)
        self.now = 0.0
        self.busy = 0
        self.steal = 0
        self.sleeps: list[float] = []
        monkeypatch.setattr(timing, "cpu_jiffies", lambda: (self.busy, self.steal))
        monkeypatch.setattr(
            timing,
            "time",
            types.SimpleNamespace(
                perf_counter=lambda: self.now, sleep=self.sleeps.append
            ),
        )

    def job(self):
        sec, steal = self.runs.pop(0)
        self.now += sec
        self.busy += 1000 - steal
        self.steal += steal


def test_summary_is_median_of_clean_runs(monkeypatch):
    host = FakeHost(monkeypatch, [(1.0, 500), (5.0, 0), (3.0, 10), (4.0, 0)])
    attempts, sec, dirty = timing.timed_clean(host.job, repeats=3, max_attempts=6)
    assert [a["clean"] for a in attempts] == [False, True, True, True]
    # the fast dirty run is reported but never enters the median
    assert (sec, dirty) == (4.0, False)
    assert host.sleeps == [timing.DIRTY_BACKOFF_S]


def test_too_few_clean_runs_fall_back_to_minimum_and_dirty(monkeypatch):
    host = FakeHost(monkeypatch, [(9.0, 50), (2.5, 30), (7.0, 0), (6.0, 100)])
    attempts, sec, dirty = timing.timed_clean(host.job, repeats=3, max_attempts=4)
    assert len(attempts) == 4 and sum(a["clean"] for a in attempts) == 1
    assert (sec, dirty) == (2.5, True)
    # backoff after each dirty run that another attempt follows
    assert host.sleeps == [timing.DIRTY_BACKOFF_S] * 2


def test_single_repeat_needs_one_clean_run(monkeypatch):
    host = FakeHost(monkeypatch, [(3.0, 0)])
    assert timing.timed_clean(host.job, repeats=1, max_attempts=2)[1:] == (3.0, False)


@pytest.mark.parametrize("steal, clean", [(20, True), (21, False)])
def test_steal_cutoff_is_two_percent_inclusive(monkeypatch, steal, clean):
    assert timing.STEAL_MAX_PCT == 2.0
    host = FakeHost(monkeypatch, [(1.0, steal)])
    attempts, _, dirty = timing.timed_clean(host.job, repeats=1, max_attempts=1)
    assert attempts == [
        {"sec": 1.0, "steal_pct": steal / 10, "clean": clean}
    ]
    assert dirty is not clean


def test_timed_reports_seconds_and_steal(monkeypatch):
    host = FakeHost(monkeypatch, [(2.0, 50)])
    assert timing.timed(host.job) == (2.0, 5.0)


def test_cpu_jiffies_reads_the_host():
    busy, steal = timing.cpu_jiffies()
    assert busy > 0 and steal >= 0
