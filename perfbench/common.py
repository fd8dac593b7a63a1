"""Paths, hashing and host facts shared by the benchmark modules.

Everything the benchmark writes lives under ``.perfbench_work/`` in the
directory it is run from (the repository root): the staged-input cache,
Spark's scratch space, job outputs and per-run records.
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

ROOT = Path.cwd()
ENGINE = ROOT / "pdf_extractor_spark"
WORK = ROOT / ".perfbench_work"
CACHE = WORK / "cache"
TMP = WORK / "tmp"
OUT = WORK / "out"
RUNS = WORK / "runs"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def require_engine() -> None:
    """Fail unless the engine package sits in the working directory; an
    installed copy elsewhere must never be benchmarked by mistake."""
    if not (ENGINE / "__init__.py").is_file():
        sys.exit(f"perfbench: no pdf_extractor_spark package in {ROOT}; "
                 "run from the repository root")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def tree_hash(*dirs: Path, pattern: str = "*.py") -> str:
    """sha256 over the relative paths and bytes of every file matching
    ``pattern`` below ``dirs`` (sorted), so any source edit changes the hash."""
    h = hashlib.sha256()
    for d in dirs:
        for p in sorted(d.rglob(pattern)):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(b"\0")
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
