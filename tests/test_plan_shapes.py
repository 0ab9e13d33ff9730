"""plans/shapes.json pins the physical-operator counts (plan_shape) of
every registry query. The digest is rebuilt by scripts/capture_plans.py
in a fresh process: inside one long session, earlier operator calls and
released caches change later plans, so an in-session sweep would depend
on test order."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import __spark_entry__ as entrymod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(ROOT, "scripts", "capture_plans.py")
SHAPES = os.path.join(ROOT, "plans", "shapes.json")


def test_digest_covers_the_registry():
    with open(SHAPES) as fh:
        shapes = json.load(fh)
    assert list(shapes) == list(entrymod.queries())
    assert os.path.getsize(SHAPES) < 100_000


def test_registry_plan_shapes_match_digest():
    """On a change, the output names each changed query with its count
    deltas and prints its formatted explain. Refresh the digest with
    ``python scripts/capture_plans.py`` when the change is intended."""
    r = subprocess.run(
        [sys.executable, SCRIPT, "--check"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, (r.stdout or r.stderr[-4000:])
