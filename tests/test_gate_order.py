"""The driver's correctness gate covers only the first 50 registry
entries; every entry changed since the last round boundary must sit
inside that window (scripts/check_gate_order.py)."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_gate_rotation_honest():
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check_gate_order.py")],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr
