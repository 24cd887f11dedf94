"""Every test module collects without the reference library.

Tests reach docling_core only through tests/refstubs.py's accessors, at
the moment they use it. A module-level reference import would turn a
missing checkout into a collection error that takes every engine test
in that module down with it. This guard collects the whole suite in a
child interpreter where ``import docling_core`` is blocked, so such an
import fails here even on a machine that has the reference.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_COLLECT_BLOCKED = (
    "import sys\n"
    "sys.modules['docling_core'] = None\n"
    "import pytest\n"
    "sys.exit(pytest.main(['--collect-only', '-q', '-p', 'no:cacheprovider',"
    " 'tests']))\n")


def test_suite_collects_with_reference_blocked():
    proc = subprocess.run([sys.executable, "-c", _COLLECT_BLOCKED],
                          cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    out = proc.stdout + proc.stderr
    assert proc.returncode == 0, out[-4000:]
    errors = [ln for ln in proc.stdout.splitlines()
              if ln.startswith("ERROR")]
    assert not errors, errors
