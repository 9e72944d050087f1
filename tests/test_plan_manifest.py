"""The committed plan manifest is the current one: every plan builds and
every key's fingerprint, census and ``since`` match a fresh capture
(heavy tier: it rebuilds all ~570 plans in a new Spark session)."""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_manifest_is_fresh():
    proc = subprocess.run(
        [sys.executable, os.path.join("tools", "plan_manifest.py"), "--check"],
        cwd=_REPO,
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout[-4000:]
