"""COVERAGE.md anchor freshness: the file:line pointers the parity audit
relies on must track the code.  regen_coverage_anchors resolves every
anchor by the def, class or module-level name it carries; this guard
fails the fast tier as soon as one drifts, or as soon as an anchor
carries no name to track it by, so the doc can never go stale again
(round-5 audit found 19 stale anchors)."""
import subprocess
import sys
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_anchors_current():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tests", "regen_coverage_anchors.py"), "--check"],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, (
        "COVERAGE.md anchors drifted — run "
        "`python tests/regen_coverage_anchors.py` and commit:\n"
        + proc.stdout
        + proc.stderr
    )


def _check(doc_path):
    return subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "tests", "regen_coverage_anchors.py"),
            "--check",
            "--doc",
            doc_path,
        ],
        capture_output=True,
        text=True,
    )


def test_check_catches_drifted_nameless_anchor(tmp_path):
    """A bare `file:NN` anchor (no trailing name) trips --check — the
    O1/O2/O3/P4 rows went stale silently while such anchors were
    tolerated."""
    doc = tmp_path / "doc.md"
    doc.write_text(
        "| P4 | `filter_rows` + summarized DROPPED_ROW | "
        "`phaser_spark/builtin_steps.py:1` | tests | q |\n"
    )
    proc = _check(str(doc))
    assert proc.returncode == 1 and "stale anchor" in proc.stdout


def test_check_rejects_current_nameless_anchor(tmp_path):
    """Even at today's line, a nameless anchor (or a `:a,b` list) fails
    --check: nothing could move it when the file changes.  The same
    anchor with its name passes."""
    import re

    src = open(os.path.join(ROOT, "phaser_spark", "builtin_steps.py")).readlines()
    line = next(i for i, l in enumerate(src, 1) if re.match(r"^def filter_rows\b", l))
    doc = tmp_path / "doc.md"
    for anchor in (f"{line}`", f"{line},{line}`"):
        doc.write_text(
            "| P4 | `filter_rows` + summarized DROPPED_ROW | "
            f"`phaser_spark/builtin_steps.py:{anchor} | tests | q |\n"
        )
        proc = _check(str(doc))
        assert proc.returncode == 1 and "1 untracked" in proc.stdout, anchor
    doc.write_text(
        "| P4 | summarized DROPPED_ROW | "
        f"`phaser_spark/builtin_steps.py:{line}` `filter_rows` | tests | q |\n"
    )
    proc = _check(str(doc))
    assert proc.returncode == 0, proc.stdout + proc.stderr
