"""Export a git revision of this repository into a plain directory.

Shared by ``scripts/ab.py`` and ``scripts/bench_pairs.py``: each runs a
committed revision next to the working tree, so both need the same
committed-files-only copy (``git archive``, no worktree metadata)."""

from __future__ import annotations

import os
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_rev(rev: str, dest: str) -> None:
    """Write the files ``rev`` commits into the existing dir ``dest``."""
    archive = subprocess.run(
        ["git", "archive", "--format=tar", rev], cwd=REPO, capture_output=True, check=True
    )
    subprocess.run(["tar", "-x", "-C", dest], input=archive.stdout, check=True)
