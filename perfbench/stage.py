"""Staged inputs and their oracle digest.

Generating documents costs far more than extracting them (a synthetic PDF
takes ~40 ms to build and ~7 ms to parse; a 1 MiB HTML page ~0.5 s to
build), so no timed job and no per-seed set-up may generate.  Instead:

1. **Digest** (``digest.tsv``, committed next to this file): for each of
   the ``POOL_DOCS`` pool documents, kind and page count from the
   generator's own ``_spec`` and the md5 of the text that a known-good
   engine extracts (``kernels.dispatch.extract_document`` +
   ``assemble_doc_text``).  The benchmark never recomputes it with the
   kernels it measures, so a kernel change that corrupts text fails the
   oracle.  Its header names the hash of the generator sources it was built
   from; when the generator changes, rebuild it with a known-good engine::

       python3 perfbench/stage.py --write-digest

2. **Pool** (once per checkout, keyed by the generator hash): the
   ``POOL_DOCS`` crawl documents from ``sources.synth.gen_doc(...,
   with_spec=True)``, built in worker processes; each must agree with the
   digest on kind and page count.
3. **Stage** (keyed by workload, seed, size and the pool key): a seeded,
   stratified sample of the pool.  Every stratum (kind x gzip x oversized;
   PDFs by the doc-id residue mod 32 that picks their dialect, font route,
   encryption and Form XObjects) gets a fixed quota, so per-kind counts
   repeat exactly for every seed and only which documents fill each quota
   changes.  The sample is written as parquet in the engine's input schema;
   the digest rows go to a side file.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import pickle
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from common import CACHE, ENGINE, nproc, require_engine, tree_hash

#: Crawl documents in the pool.  Each stratum must hold more documents than
#: any workload's quota for it; 1% of the pool is oversized HTML and ~19%
#: is PDF.
POOL_DOCS = 6000
POOL_GEN_SEED = 1017
#: Bumped when the pool or stage file layout changes.
FORMAT = 3
#: Parquet files per staged input, so the scan is parallel.
STAGE_FILES = 8
OVERSIZE = 256 * 1024  # plans.pipeline.OVERSIZE_THRESHOLD
DIGEST = Path(__file__).resolve().parent / "digest.tsv"
#: Doc ids per work unit of a pool worker.
CHUNK = 250
DIGEST_COLS = ("doc_id", "kind", "n_pages", "md5")

INPUT_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
EXPECT_COLS = ["url", "kind", "n_pages", "md5", "gz", "big", "n_bytes", "stratum"]


def generator_hash() -> str:
    """Hash of the generator sources (``sources/synth*.py``)."""
    return tree_hash(ENGINE / "sources", pattern="synth*.py")


def pool_key() -> str:
    return f"v{FORMAT}-{POOL_DOCS}-{POOL_GEN_SEED}-{generator_hash()}"


def read_digest() -> dict[int, tuple[str, int, str]]:
    """doc_id -> (kind, n_pages, md5 of the text) from ``digest.tsv``;
    exits if the digest was built from other generator sources."""
    lines = DIGEST.read_text().splitlines()
    meta = dict(line[2:].split(": ", 1) for line in lines if line.startswith("# "))
    if meta.get("generator") != generator_hash():
        sys.exit(f"perfbench: {DIGEST.name} was built for generator {meta.get('generator')}, "
                 f"the checkout has {generator_hash()}; rebuild it with a known-good "
                 "engine: python3 perfbench/stage.py --write-digest")
    rows = [line.split("\t") for line in lines if line and not line.startswith("#")]
    if tuple(rows[0]) != DIGEST_COLS or len(rows) != POOL_DOCS + 1:
        sys.exit(f"perfbench: {DIGEST.name} is malformed")
    return {int(i): (k, int(n), m) for i, k, n, m in rows[1:]}


def _gen_docs(doc_ids: list[int]) -> list[dict]:
    """Generate ``doc_ids`` with the generator's spec."""
    from pdf_extractor_spark.sources.synth import gen_doc

    rows = []
    for doc_id in doc_ids:
        row = gen_doc(doc_id, seed=POOL_GEN_SEED, with_spec=True)
        spec = row.pop("_spec")
        payload = row["html"]
        rows.append({
            "doc_id": doc_id, **row,
            "kind": spec["kind"], "n_pages": spec["n_pages"],
            "gz": payload[:3] == b"\x1f\x8b\x08",
            "big": len(payload) > OVERSIZE,
            "n_bytes": len(payload),
        })
    return rows


def _digest_rows(rows: list[dict]) -> list[tuple]:
    """The engine's text md5 of each document, checked against the
    generator's spec (--write-digest)."""
    from pdf_extractor_spark.kernels.dispatch import assemble_doc_text, extract_document

    out = []
    for row in rows:
        r = extract_document(row["html"])
        got = (r["kind"], r["status"], r["n_pages"])
        if got != (row["kind"], "ok", row["n_pages"]):
            raise RuntimeError(f"doc {row['doc_id']}: engine says {got}, generator "
                               f"{row['kind']}/ok/{row['n_pages']}")
        out.append((row["doc_id"], row["kind"], row["n_pages"],
                    hashlib.md5(assemble_doc_text(r).encode()).hexdigest()))
    return out


def _worker(task: str, k: int, n: int, out: Path) -> None:
    """Worker ``k`` of ``n``: every n-th chunk of the pool, generated
    (task "pool") or generated and extracted (task "digest"), pickled to
    ``out``."""
    ids = [i for lo in range(k * CHUNK, POOL_DOCS, n * CHUNK)
           for i in range(lo, min(lo + CHUNK, POOL_DOCS))]
    rows = _gen_docs(ids)
    out.write_bytes(pickle.dumps(rows if task == "pool" else _digest_rows(rows)))


def _in_workers(task: str) -> list:
    """Run ``task`` over the whole pool in nproc() worker processes and
    return their results in doc-id order.  The workers are plain
    subprocesses, each waited for: a multiprocessing pool would leave its
    resource-tracker process running until this process exits."""
    n = nproc()
    tmp = CACHE / f"{task}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    procs = [subprocess.Popen([sys.executable, __file__, "--worker", task, str(k), str(n),
                               str(tmp / f"{k}.pkl")])
             for k in range(n)]
    try:
        codes = [p.wait() for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    if any(codes):
        sys.exit(f"perfbench: {task} worker exit codes {codes}")
    out = [r for k in range(n) for r in pickle.loads((tmp / f"{k}.pkl").read_bytes())]
    shutil.rmtree(tmp)
    return sorted(out, key=lambda r: r["doc_id"] if task == "pool" else r[0])


def _build_pool(path: Path, digest: dict) -> None:
    rows = _in_workers("pool")
    for r in rows:
        kind, n_pages, md5 = digest[r["doc_id"]]
        if (r["kind"], r["n_pages"]) != (kind, n_pages):
            sys.exit(f"perfbench: generated doc {r['doc_id']} is {r['kind']}/{r['n_pages']}, "
                     f"{DIGEST.name} says {kind}/{n_pages}")
        r["md5"] = md5
    tmp = path.with_suffix(".tmp")
    pq.write_table(pa.Table.from_pylist(rows), tmp, compression="zstd")
    tmp.rename(path)


def write_digest() -> None:
    """Rebuild ``digest.tsv`` with the engine in the working directory."""
    lines = [f"# generator: {generator_hash()}",
             f"# docs: gen_doc(doc_id, seed={POOL_GEN_SEED}, with_spec=True), "
             f"doc_id < {POOL_DOCS}",
             "\t".join(DIGEST_COLS)]
    lines += ["\t".join(map(str, row)) for row in _in_workers("digest")]
    DIGEST.write_text("\n".join(lines) + "\n")


def _stratum(row: dict) -> str:
    """PDFs by doc-id residue mod 32 (the generator keys dialect, font route,
    RC4 and Form XObjects on it); other docs by kind, gzip and oversize."""
    if row["kind"] == "pdf":
        return f"pdf-{row['doc_id'] % 32:02d}"
    return f"{row['kind']}{'-gz' if row['gz'] else ''}{'-big' if row['big'] else ''}"


def _quotas(counts: dict[str, int], total: int) -> dict[str, int]:
    """Largest-remainder apportionment of ``total`` over the pool's strata."""
    pool_n = sum(counts.values())
    exact = {k: total * c / pool_n for k, c in counts.items()}
    q = {k: int(v) for k, v in exact.items()}
    for k in sorted(exact, key=lambda k: (q[k] - exact[k], k))[: total - sum(q.values())]:
        q[k] += 1
    return q


class Staged:
    """One staged input: the parquet directory the engine reads and the
    per-url digest the oracle compares against."""

    def __init__(self, path: Path, expect: pa.Table, cache_hits: int,
                 pool_s: float, stage_s: float):
        self.path = path
        self.input_dir = str(path / "input")
        rows = expect.to_pylist()
        self.expect = {r["url"]: (r["kind"], "ok", r["n_pages"], r["md5"]) for r in rows}
        self.n_docs = len(rows)
        self.n_pages = sum(max(1, r["n_pages"]) for r in rows)
        self.input_bytes = sum(r["n_bytes"] for r in rows)
        kinds = {"html": 0, "pdf": 0, "raw": 0, "gzip": 0}
        for r in rows:
            kinds[r["kind"]] += 1
            kinds["gzip"] += r["gz"]
        self.kind_counts = kinds
        self.oversized = sum(r["big"] for r in rows)
        self.cache_hits = cache_hits
        self.pool_s = pool_s
        self.stage_s = stage_s


def stage(workload: str, n_docs: int, seed: int) -> Staged:
    """Return the staged input for (workload, seed, n_docs), building the
    pool and the sample on a cache miss."""
    CACHE.mkdir(parents=True, exist_ok=True)
    key = pool_key()
    hits = 0
    t0 = time.perf_counter()
    pool_path = CACHE / f"pool-{key}.parquet"
    if pool_path.exists():
        hits += 1
    else:
        digest = read_digest()
        for old in CACHE.glob("pool-*.parquet"):
            old.unlink()
        for old in CACHE.glob("stage-*"):
            shutil.rmtree(old)
        _build_pool(pool_path, digest)
    pool_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    sdir = CACHE / f"stage-{workload}-s{seed}-n{n_docs}-{key}"
    if (sdir / "expect.parquet").exists():
        hits += 1
    else:
        _write_stage(sdir, pool_path, workload, n_docs, seed)
    expect = pq.read_table(sdir / "expect.parquet")
    return Staged(sdir, expect, hits, pool_s, time.perf_counter() - t0)


def _write_stage(sdir: Path, pool_path: Path, workload: str, n_docs: int, seed: int) -> None:
    meta = pq.read_table(pool_path, columns=["doc_id", "kind", "gz", "big"]).to_pylist()
    strata: dict[str, list[int]] = {}
    for i, row in enumerate(meta):
        strata.setdefault(_stratum(row), []).append(i)
    quotas = _quotas({k: len(v) for k, v in strata.items()}, n_docs)
    rng = random.Random(f"{workload}:{seed}")
    # The oversized docs are 1% of the docs and ~40% of kernel time; one
    # fixed set of them for every seed keeps that share from moving with
    # the seed, which changes every other document.
    fixed = random.Random(workload)
    picked = []
    for k in sorted(strata):
        picked += (fixed if k.endswith("-big") else rng).sample(strata[k], quotas[k])
    rng.shuffle(picked)

    pool = pq.read_table(pool_path).take(picked)
    stratum = [_stratum(r) for r in
               pool.select(["doc_id", "kind", "gz", "big"]).to_pylist()]
    tmp = sdir.with_name(sdir.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "input").mkdir(parents=True)
    inp = pool.select(INPUT_SCHEMA.names).cast(INPUT_SCHEMA)
    step = -(-len(picked) // STAGE_FILES)
    for i in range(STAGE_FILES):
        pq.write_table(inp.slice(i * step, step),
                       tmp / "input" / f"part-{i:02d}.parquet", compression="zstd")
    expect = pool.append_column("stratum", pa.array(stratum)).select(EXPECT_COLS)
    pq.write_table(expect, tmp / "expect.parquet")
    (tmp / "stage.json").write_text(json.dumps({
        "workload": workload, "n_docs": n_docs, "seed": seed,
        "quotas": quotas, "pool": pool_path.name,
        "made": dt.datetime.now(dt.timezone.utc).isoformat(),
    }, indent=1))
    shutil.rmtree(sdir, ignore_errors=True)
    tmp.rename(sdir)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Rebuild the oracle digest (digest.tsv).")
    ap.add_argument("--write-digest", action="store_true")
    ap.add_argument("--worker", nargs=4, metavar=("TASK", "K", "N", "OUT"),
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    require_engine()
    if args.worker:
        task, k, n, out = args.worker
        _worker(task, int(k), int(n), Path(out))
    elif args.write_digest:
        write_digest()
        print(f"wrote {DIGEST}")
    else:
        ap.error("--write-digest is required")
