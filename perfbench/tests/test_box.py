"""Tests of the CPU meter and the box probes (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from box import CpuMeter, steal_share  # noqa: E402

_BUSY = ("import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass\ntime.sleep(5)")


def test_meter_counts_a_child_while_alive_and_after_reaping():
    child = subprocess.Popen([sys.executable, "-c", _BUSY])
    try:
        meter = CpuMeter()
        c0 = meter.read()
        deadline = time.monotonic() + 10
        while meter.read() - c0 < 0.2 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in meter.pids
        alive = meter.read()
        assert alive - c0 >= 0.2
    finally:
        child.kill()
        child.wait()
    # reaped: its CPU moves into this process's children's time
    after = meter.refresh().read()
    assert child.pid not in meter.pids
    assert after >= alive - 0.05


def test_no_jit_threads_outside_a_jvm():
    meter = CpuMeter()
    assert meter.jit_tasks == [] and meter.jit() == 0.0
    assert meter.settle_jit(max_s=2.0) < 1.0


def test_steal_share():
    # user nice system idle iowait irq softirq steal guest guest_nice
    before = [100, 0, 20, 500, 10, 0, 0, 30, 0, 0]
    after = [160, 0, 30, 900, 20, 0, 0, 60, 0, 0]
    # busy: 60 user + 10 system + 30 steal
    assert steal_share(before, after) == 30 / 100
    assert steal_share(before, before) == 0.0
