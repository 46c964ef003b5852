"""scripts/pytest_tier_report.py --manifest: the slow-tier manifest is
regenerated only from a durations log of the FULL suite — a log whose
run deselected tests would drop them out of the manifest."""

import os
import subprocess
import sys

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "pytest_tier_report.py",
)

DURATIONS = """\
============================= slowest durations ==============================
3.10s call     tests/test_a.py::test_slow
0.20s call     tests/test_a.py::test_fast
0.05s setup    tests/test_a.py::test_slow
"""


def _regenerate(tmp_path, summary):
    log = tmp_path / "durations.log"
    log.write_text(DURATIONS + summary + "\n")
    (tmp_path / "tests").mkdir()
    proc = subprocess.run(
        [sys.executable, SCRIPT, str(log), "--manifest"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
    )
    return proc, tmp_path / "tests" / "slow_manifest.txt"


def test_manifest_from_full_run_log(tmp_path):
    proc, manifest = _regenerate(
        tmp_path, "2 passed, 1 skipped, 3 warnings in 4.56s (0:00:04)"
    )
    assert proc.returncode == 0, proc.stderr
    ids = [
        line
        for line in manifest.read_text().splitlines()
        if line and not line.startswith("#")
    ]
    assert ids == ["tests/test_a.py::test_slow"]


def test_manifest_refuses_log_with_deselected_tests(tmp_path):
    proc, manifest = _regenerate(
        tmp_path,
        "========= 2 passed, 1 skipped, 463 deselected in 4.56s =========",
    )
    assert proc.returncode != 0
    assert "deselected 463 tests" in proc.stderr
    assert not manifest.exists()
