"""Mechanically refresh the `file.py:NN` anchors in COVERAGE.md.

Anchors drift every time a file above them grows (the round-5 audit found
several stale ones).  Every anchor has the form

    `phaser_spark/<path>.py:<line>` `<name>`

where `<name>` names a def, a class or a module-level assignment in that
file: the line number is replaced with the current location of
``def <name>`` / ``class <name>`` / ``<name> =`` (for dotted names like
``Phase.load_data`` the last component is looked up).  Any other `.py:NN`
anchor (no trailing backticked name, a `:a,b` list, or a path outside
phaser_spark/) cannot be tracked, so the script reports it and
``--check`` fails on it.

Usage:
    python tests/regen_coverage_anchors.py            # rewrite in place
    python tests/regen_coverage_anchors.py --check    # exit 1 on drift
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOC = os.path.join(ROOT, "COVERAGE.md")

# `ops/...` anchors (the beyond-reference LLM-ops tables) resolve
# relative to phaser_spark/ — round-11: those tables are now machine-
# pinned too (VERDICT r10 wrong-item #3)
ANCHOR = re.compile(
    r"`(?P<path>(?:phaser_spark|ops)/[\w/]+\.py):(?P<line>\d+)`\s+`(?P<name>[\w.]+)`"
)


def locate(path: str, name: str) -> int | None:
    """Line number (1-based) of ``def name`` / ``class name`` / a
    module-level ``name =`` in path."""
    target = re.escape(name.split(".")[-1])
    pat = re.compile(
        rf"^(\s*(async\s+)?(def|class)\s+{target}\b|{target}\s*[:=])"
    )
    if path.startswith("ops/"):
        path = "phaser_spark/" + path
    full = os.path.join(ROOT, path)
    try:
        with open(full) as f:
            for i, line in enumerate(f, 1):
                if pat.match(line):
                    return i
    except OSError:
        return None
    return None


def main() -> int:
    check = "--check" in sys.argv
    doc = DOC
    if "--doc" in sys.argv:  # test hook: run against an arbitrary doc file
        doc = sys.argv[sys.argv.index("--doc") + 1]
    with open(doc) as f:
        text = f.read()
    changes: list[tuple[str, str, int, int]] = []
    missing: list[tuple[str, str]] = []

    def sub(m: re.Match) -> str:
        path, old, name = m.group("path"), int(m.group("line")), m.group("name")
        new = locate(path, name)
        if new is None:
            missing.append((path, name))
            return m.group(0)
        if new != old:
            changes.append((path, name, old, new))
        return f"`{path}:{new}` `{name}`"

    updated = ANCHOR.sub(sub, text)
    # any other `....py:NN` (or `:a,b`) anchor has no name or lies
    # outside phaser_spark/, so nothing above can track it
    nameless = [
        m.group(0)
        for m in re.finditer(r"`[\w/.]+\.py:\d[\d,]*`", updated)
        if not ANCHOR.match(updated, m.start())
    ]
    for path, name, old, new in changes:
        print(f"  {path} `{name}`: {old} -> {new}")
    for path, name in missing:
        print(f"  UNRESOLVED: {path} `{name}` (no def/class found)", file=sys.stderr)
    for anchor in nameless:
        print(
            f"  UNTRACKED: {anchor} (needs a phaser_spark/ or ops/ path "
            "and a trailing `name`)",
            file=sys.stderr,
        )
    if check:
        if changes or missing or nameless:
            print(
                f"{len(changes)} stale anchor(s), {len(missing)} unresolved, "
                f"{len(nameless)} untracked"
            )
            return 1
        print("anchors up to date")
        return 0
    if updated != text:
        with open(doc, "w") as f:
            f.write(updated)
        print(f"rewrote {len(changes)} anchor(s)")
    else:
        print("anchors up to date")
    return 1 if missing or nameless else 0


if __name__ == "__main__":
    sys.exit(main())
