"""The measurement harness without a JVM: ``bench.wait_for_window`` under a
fake probe and a fake clock, the ``bench.regime`` thresholds, the capture
gates, and the scripts' entry points (no other test imports them, so a
broken import would otherwise go unnoticed)."""

import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


class FakeClock:
    def __init__(self, now: float = 1000.0, tick: float = 0.0):
        self.now = now
        self.tick = tick  # advance per read: time passes between any two reads
        self.sleeps: list[float] = []

    def __call__(self) -> float:
        self.now += self.tick
        return self.now

    def sleep(self, s: float) -> None:
        self.sleeps.append(s)
        self.now += s


def fake_probe(clock: FakeClock, readings, cost_s: float = 0.0):
    """Yields ``readings`` in order; each reading advances the clock by
    ``cost_s`` (a mid-episode page-touch can take tens of seconds)."""
    it = iter(readings)
    calls = []

    def probe():
        clock.now += cost_s
        calls.append(clock.now)
        return next(it)

    probe.calls = calls
    return probe


def gate(clock, probe, budget_s, step_s=20, deadline=float("inf"), min_gbps=1.5):
    return bench.wait_for_window(probe, lambda g: g >= min_gbps, budget_s, step_s,
                                 deadline, sleep=clock.sleep, clock=clock)


def test_gate_returns_at_first_healthy_reading():
    clock = FakeClock(tick=0.001)
    probe = fake_probe(clock, [1.5, 0.1])
    assert gate(clock, probe, budget_s=150) == (1.5, 0.0)
    assert clock.sleeps == [] and len(probe.calls) == 1


def test_gate_defers_while_readings_stay_below_threshold():
    clock = FakeClock()
    probe = fake_probe(clock, [0.2, 1.0, 1.49, 1.6, 0.1])
    reading, waited = gate(clock, probe, budget_s=150)
    assert reading == 1.6
    assert clock.sleeps == [20, 20, 20]
    assert waited == 60


def test_gate_stops_at_wall_budget():
    clock = FakeClock()
    probe = fake_probe(clock, [0.1] * 10)
    reading, waited = gate(clock, probe, budget_s=60)
    # sleeps start at 0, 20 and 40 s into the budget; at 60 s it gives up
    assert clock.sleeps == [20, 20, 20]
    assert (reading, waited) == (0.1, 60)


def test_gate_budget_counts_probe_time_not_just_sleeps():
    clock = FakeClock()
    probe = fake_probe(clock, [0.1] * 20, cost_s=25)
    _, waited = gate(clock, probe, budget_s=150)
    # each deferral costs 20 s asleep + 25 s probing: 45, 90, 135, 180
    assert clock.sleeps == [20] * 4
    assert waited == 180


def test_gate_stops_at_hard_deadline():
    clock = FakeClock()
    probe = fake_probe(clock, [0.1] * 10)
    reading, waited = gate(clock, probe, budget_s=150, deadline=clock.now + 50)
    assert clock.sleeps == [20, 20, 20]
    assert waited == 60
    clock = FakeClock()
    probe = fake_probe(clock, [0.1, 2.0])
    assert gate(clock, probe, budget_s=150, deadline=clock.now) == (0.1, 0.0)
    assert clock.sleeps == []


def test_gate_with_spent_budget_probes_once():
    clock = FakeClock()
    probe = fake_probe(clock, [0.1, 2.0])
    assert gate(clock, probe, budget_s=0) == (0.1, 0.0)
    assert len(probe.calls) == 1


@pytest.mark.parametrize("fault_gbps, tag", [
    (0.99, "degraded"), (1.0, "sub-healthy"), (1.99, "sub-healthy"), (2.0, "healthy"),
])
def test_regime_thresholds(fault_gbps, tag):
    assert bench.regime(fault_gbps) == tag


def _load_script(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_capture_gates():
    capture = _load_script("capture")
    probe = {"fault_gbps": 1.5, "spin_mops": 5.0, "stray_jvms": 0}
    assert capture.headline_ok(probe, 1.5)
    assert not capture.headline_ok({**probe, "fault_gbps": 1.49}, 1.5)
    assert not capture.headline_ok({**probe, "spin_mops": 4.99}, 1.5)
    probe = {"fault_gbps": 1.8, "spin_mops": 6.0, "stray_jvms": 0}
    assert capture.scaling_ok(probe, 1.8)
    assert not capture.scaling_ok({**probe, "fault_gbps": 1.79}, 1.8)
    assert not capture.scaling_ok({**probe, "spin_mops": 5.99}, 1.8)
    assert not capture.scaling_ok({**probe, "stray_jvms": 1}, 1.8)


@pytest.mark.parametrize("argv", [
    ["capture.py", "--help"],
    ["capture.py", "headline", "--help"],
    ["capture.py", "scaling", "--help"],
    ["scaling_bench.py", "--help"],
    ["curation_scale_run.py", "--help"],
])
def test_script_help_exits_zero(argv):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", argv[0]), *argv[1:]],
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
    assert "usage:" in proc.stdout


@pytest.mark.parametrize("mode", ["headline", "scaling"])
def test_capture_never_fires_below_gate(mode, tmp_path):
    log = tmp_path / "capture.jsonl"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "capture.py"), mode,
         "--min-fault", "1000", "--max-minutes", "0.05", "--log", str(log)],
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 1, proc.stderr
    lines = [json.loads(ln) for ln in log.read_text().splitlines()]
    assert lines and all(set(rec) == {"t", "skip"} for rec in lines)
