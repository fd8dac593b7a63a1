"""The timed jobs, one per workload, and the oracle that checks each output.

A job calls only the engine's public entry points on the staged table:

- ``crawl_docs``: ``spark.read.parquet`` ->
  ``plans.pipeline.route_oversized`` -> ``extracted_docs`` (the slim
  ``mapInPandas`` path) -> parquet.
- ``bucketed_pages``: ``sources.pages.read_pages`` ->
  ``plans.pipeline.run_extraction(write_pages_table=True)`` with an injected
  failure after ``FAIL_AFTER`` buckets, then the same call again with
  ``resume=True``; the job is both calls.

Every job's output is compared with the staged digest on
``(url, kind, status, n_pages, md5(text))``.
"""

from __future__ import annotations

import hashlib
import shutil
import uuid
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow.dataset as ds
import pyarrow.parquet as pq

N_BUCKETS = 2
FAIL_AFTER = 1


@dataclass(frozen=True)
class Workload:
    docs: int     # input docs per job, a stratified sample of the crawl pool
    plan: str     # "docs" or "bucketed"


# Why each workload exists: METRICS.md and BENCHMARK.json.
WORKLOADS = {
    "crawl_docs": Workload(1500, "docs"),
    "bucketed_pages": Workload(160, "bucketed"),
}


def no_span(name: str):
    return nullcontext()


def docs_job(spark, staged, out: str, parts: int, span=no_span) -> None:
    """``span(name)`` wraps each call into the engine (traced runs)."""
    from pdf_extractor_spark.plans.pipeline import extracted_docs, route_oversized

    with span("sources.read_parquet"):
        df = spark.read.parquet(staged.input_dir)
    with span("plans.route_oversized"):
        routed = route_oversized(df, parts)
    with span("plans.extracted_docs"):
        docs = extracted_docs(routed)
    with span("sinks.write_parquet"):
        docs.write.mode("overwrite").parquet(out)


def bucketed_job(spark, staged, out: str, span=no_span) -> dict:
    """Fail after FAIL_AFTER buckets, then resume; returns the resumed
    call's totals."""
    from pdf_extractor_spark.plans.pipeline import run_extraction
    from pdf_extractor_spark.sources.pages import read_pages

    # fmt is explicit: with no Iceberg runtime on the classpath,
    # sources.pages.iceberg_available still answers True (py4j resolves any
    # missing class to a JavaPackage), so the default would pick "iceberg".
    with span("sources.read_pages"):
        df = read_pages(spark, staged.input_dir, fmt="parquet")
    run_id = uuid.uuid4().hex[:12]
    kw = dict(n_buckets=N_BUCKETS, write_pages_table=True, run_id=run_id,
              input_snapshot=staged.path.name)
    try:
        with span("plans.run_extraction.failing"):
            run_extraction(spark, df, out, fail_after_buckets=FAIL_AFTER, **kw)
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    else:
        raise RuntimeError("fail_after_buckets did not interrupt the run")
    with span("plans.run_extraction.resume"):
        return run_extraction(spark, df, out, resume=True, **kw)


def clear(out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)


def _digest_rows(path: str) -> list[tuple]:
    t = pq.read_table(path, columns=["url", "kind", "status", "n_pages", "text"])
    return [
        (u, (k, s, n, hashlib.md5((x or "").encode()).hexdigest()))
        for u, k, s, n, x in zip(*(t.column(c).to_pylist() for c in t.column_names))
    ]


def check_docs(staged, docs_path: str) -> list[str]:
    """Problems found in a docs table, compared with the staged digest
    (an empty list means the output is correct)."""
    problems = []
    seen = set()
    for url, got in _digest_rows(docs_path):
        want = staged.expect.get(url)
        if url in seen:
            problems.append(f"duplicate row {url}")
        elif want is None:
            problems.append(f"unexpected url {url}")
        elif got != want:
            problems.append(f"{url}: got {got}, want {want}")
        seen.add(url)
    if len(seen) != staged.n_docs:
        problems.append(f"{staged.n_docs - len(seen & staged.expect.keys())} docs missing")
    return problems


def check_bucketed(staged, out: str, totals: dict) -> list[str]:
    """Docs table as in check_docs, plus: every bucket ``ok`` exactly once
    in the manifest, manifest doc counts summing to the input, the resumed
    call skipping exactly the buckets written before the failure, and one
    pages-table row per page."""
    from pdf_extractor_spark.plans.pipeline import read_manifest

    problems = check_docs(staged, f"{out}/docs")
    manifest = read_manifest(out)
    buckets = sorted(e["bucket"] for e in manifest if e["status"] == "ok")
    if buckets != list(range(N_BUCKETS)) or len(manifest) != N_BUCKETS:
        problems.append(f"manifest buckets {buckets} of {len(manifest)} rows")
    n_docs = sum(e["n_docs"] for e in manifest)
    if n_docs != staged.n_docs:
        problems.append(f"manifest counts {n_docs} docs, input has {staged.n_docs}")
    if len(totals["skipped_buckets"]) != FAIL_AFTER:
        problems.append(f"resume skipped {totals['skipped_buckets']}")
    n_rows = ds.dataset(f"{out}/pages", format="parquet").count_rows()
    if n_rows != staged.n_pages:
        problems.append(f"pages table has {n_rows} rows, want {staged.n_pages}")
    return problems
