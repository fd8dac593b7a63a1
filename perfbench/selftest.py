"""Self-test of the oracle: a tampered output must count as a failed job.

    python3 perfbench/selftest.py

For each workload in BENCHMARK.json it starts one session, runs three
timed jobs through the same loop as run.py, edits the second job's output
before the check, and requires that exactly that job fails, so that
``failed`` is 1 and ``ok_frac`` is 2/3.  The edit changes one document's
text in the docs table; for ``bucketed_pages`` a second pass instead drops
the last manifest row, which the bucket check must catch.  Exits non-zero
if any tampering goes unnoticed or an untampered job fails.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import procmon  # noqa: E402
import run  # noqa: E402
from common import ROOT, require_engine  # noqa: E402


def tamper_text(out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = next(p for p in sorted(Path(out).rglob("part-*.parquet"))
                if pq.read_metadata(p).num_rows)
    t = pq.read_table(path)
    text = t.column("text").to_pylist()
    text[0] = (text[0] or "") + " tampered"
    i = t.column_names.index("text")
    pq.write_table(t.set_column(i, t.field(i), pa.array(text, t.field(i).type)), path)


def tamper_manifest(out: str) -> None:
    mf = Path(out) / "_checkpoint" / "manifest.jsonl"
    mf.write_text("".join(mf.read_text().splitlines(keepends=True)[:-1]))


def main() -> int:
    require_engine()
    import jobs
    import stage

    run.spark_env()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    cases = []
    for w in (x["name"] for x in bench["workloads"]):
        cases.append((w, tamper_text))
        if jobs.WORKLOADS[w].plan == "bucketed":
            cases.append((w, tamper_manifest))
    procmon.adopt_orphans()
    engine = run.Engine(run.nproc())
    bad = []
    try:
        for w, tamper in cases:
            wl = jobs.WORKLOADS[w]
            staged = stage.stage(w, wl.docs, 1)
            if engine.spark is None:
                engine.start()
            runner = run.Runner(engine, w, 1, staged)
            timed = runner.timed(0, tamper=tamper)
            m = run.end_to_end(staged, {"total_s": 0.0}, timed)
            flags = [j["n_problems"] > 0 for j in timed]
            ok = flags == [False, True, False] and abs(m["ok_frac"][0] - 2 / 3) < 1e-9
            print(f"{'PASS' if ok else 'FAIL'} {w} {tamper.__name__}: failed jobs {flags}, "
                  f"ok_frac {m['ok_frac'][0]:.3f}, first problem: {timed[1]['problems'][:1]}")
            if not ok:
                bad.append(f"{w}/{tamper.__name__}")
    finally:
        engine.shutdown()
        procmon.stop_descendants()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
