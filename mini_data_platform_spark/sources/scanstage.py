"""Hardlink scan staging — the file-count-scale fix for EXPLICIT-path
multi-file scans (round-15; INGEST_SCALE r15 diagnosis).

``spark.read.csv([p1 … pN])`` with thousands of explicit paths pays a
per-path qualification/glob round in the JVM during READER CONSTRUCTION
— measured ~1.8 ms/path on local files, i.e. 7.4 s of pure driver wall
at 4096 paths and ~18 s at 10k, per scan — while reading ONE directory
costs a single ``listStatus`` (~0.1 s at 10k entries). The ingest path
builds two such scans per batch (the grouped validation probe and the
grouped staging read), which is exactly the 4096/10k-file ladder wall.

:func:`stage_link_dir` hardlinks a group's files (named by their
basenames) into a fresh temp directory so the scan can read the
DIRECTORY instead. Hardlinks are metadata-only (~12 µs each), keep the
data alive regardless of later moves of the originals, and preserve
basenames — so ``input_file_name()``-based provenance (the staging rank
join, the probes' per-file verdicts) is unchanged.

Staging declines (returns ``None`` — callers keep the explicit-path
scan, correct at any count) when:

- the group is small (< :data:`STAGE_MIN_FILES` — per-path cost is
  negligible below that and the link dir would be pure overhead);
- any path is remote / basenames collide (provenance would break);
- ``os.link`` fails (cross-device tempdir, no-hardlink filesystem,
  permissions) — the links made so far are rolled back.

The link dir must OUTLIVE every Spark action over the returned plan
(plans are lazy); callers own cleanup via :func:`cleanup_dirs`.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

#: basenames whose URI spelling (what ``input_file_name()`` reports) is
#: guaranteed identical to ``os.path.basename`` — the condition for
#: joining scan rows back to their files by basename
SAFE_BASE = re.compile(r"^[A-Za-z0-9._=-]+$")

#: below this many files the explicit-path scan's per-path cost is
#: negligible (~1.8 ms each) and staging is not attempted
STAGE_MIN_FILES = 64


def stage_link_dir(paths: list[str]) -> str | None:
    """Hardlink ``paths`` into a fresh temp dir, named by basename;
    return the dir, or ``None`` when staging is not applicable. The
    caller must keep the dir alive until every action over the scan has
    run, then remove it (:func:`cleanup_dirs`)."""
    if len(paths) < STAGE_MIN_FILES:
        return None
    seen: set[str] = set()
    for p in paths:
        base = os.path.basename(p)
        if base in seen or not os.path.isfile(p):
            return None
        seen.add(base)
    d = tempfile.mkdtemp(prefix="mdp_scanstage_")
    try:
        for p in paths:
            os.link(p, os.path.join(d, os.path.basename(p)))
    except OSError:
        # cross-device tempdir / hardlink-less fs / raced delete:
        # roll back and let the caller scan the explicit paths
        shutil.rmtree(d, ignore_errors=True)
        return None
    return d


def cleanup_dirs(dirs: list[str]) -> None:
    """Remove staging dirs; advisory (links are worthless once the
    batch's actions have run, and tempdir reaping would get them)."""
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
