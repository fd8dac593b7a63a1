"""End-to-end extraction pipeline (SURVEY.md §3.4 / §4.3).

Dataflow::

    read pages(url, warc_ts, html, text, lang)
      -> [resume] skip buckets already in the checkpoint manifest
      -> oversized-payload routing (bounds executor memory: big docs get
         their own high-fanout repartition so an Arrow batch never holds
         many multi-MB payloads)                                  (§4.3.2)
      -> url-hash repartition (urls are unique -> row-count uniform; the
         *compute* skew lives in payload size, handled above; host-level
         value skew is handled by salted aggregation in operators/relational)
      -> ONE vectorized kernel pass (operators/extract: a mapInPandas
         generator emitting flat doc columns — text assembled and totals
         summed in the same pass — plus the ``pages`` tree only when the
         pages table is written)
      -> per-bucket parquet write + checkpoint manifest row with lineage +
         doc/byte counters (Observation API)                      (§4.3.3)

Scale notes (100 TB / 1000 executors): buckets are independent jobs — the
failure domain and the resume unit.  At cluster scale you size n_buckets so
one bucket ≈ a few minutes of cluster work; kill-restart loses at most one
bucket.  All per-doc work is embarrassingly parallel; the only shuffle in
the whole plan is the explicit repartition (no groupBy/join on the hot path).
"""

from __future__ import annotations

import json
import time
import uuid
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extracted_docs, extracted_docs_with_pages

__all__ = [
    "doc_text_expr",
    "extracted_docs",
    "extracted_pages",
    "extracted_images",
    "extracted_tables",
    "write_tables_csv",
    "route_oversized",
    "run_extraction",
    "read_manifest",
]

PAGE_BANNER_FMT = "=== Page %d ===\n%s"  # reference ocr_extractor.py:293-298
OVERSIZE_THRESHOLD = 256 * 1024  # bytes; docs above this are routed separately


def doc_text_expr(pages: Column, kind: Column) -> Column:
    """Ordered text reassembly (OP-43b) with ZERO shuffle, over a
    (page_number, text) struct array — the CLI's ``--pages`` doc table.

    ``array_sort`` orders the pages struct array by its leading field
    ``page_number`` (explicit sort key — never row order), then PDFs get the
    reference's ``=== Page N ===`` banners; single-page kinds pass through.
    Must stay byte-equal to kernels.dispatch.assemble_doc_text.
    """
    sorted_pages = F.array_sort(pages)
    banner = F.transform(
        sorted_pages,
        lambda p: F.format_string(PAGE_BANNER_FMT, p["page_number"], p["text"]),
    )
    return F.when(kind == "pdf", F.concat_ws("\n\n", banner)).otherwise(
        F.coalesce(F.element_at(sorted_pages, 1)["text"], F.lit(""))
    )


def route_oversized(df: DataFrame, parts: int,
                    threshold: int = OVERSIZE_THRESHOLD) -> DataFrame:
    """Memory-bounding repartition (§4.3.2) in ONE scan and ONE shuffle.

    Small docs spread over url-hash buckets (16 buckets/partition => ±25%
    row balance); each oversized doc gets a per-url unique bucket, so
    oversized payloads scatter ~one per partition instead of clustering in
    any task's Arrow batches (with ARROW_BATCH_ROWS=256 the expected batch
    stays a few MB even at 1% multi-MB docs).  The earlier two-branch
    filter+union formulation read the source TWICE — 2x scan IO at 100 TB —
    and added a second shuffle; this one is strictly cheaper and keeps the
    same guarantee."""
    bucket = (
        F.when(F.length("html") > threshold, F.concat(F.lit("B:"), F.col("url")))
        .otherwise(F.pmod(F.xxhash64("url"), F.lit(parts * 16)).cast("string"))
    )
    return df.repartition(parts, bucket)


def _explode_pages(ext: DataFrame) -> DataFrame:
    """Docs+pages frame -> page-level long table, one row per page (an
    error doc keeps one all-null page row)."""
    return ext.select(
        "url",
        "kind",
        F.posexplode_outer("pages").alias("pos", "page"),
    ).select(
        "url",
        "kind",
        F.col("page.page_number").alias("page_number"),
        F.col("page.text").alias("text"),
        F.col("page.char_count").alias("char_count"),
        F.col("page.word_count").alias("word_count"),
        F.col("page.blocks").alias("blocks"),
        F.col("page.images").alias("images"),
        F.col("page.tables").alias("tables"),
        F.col("page.links").alias("links"),
    )


def extracted_pages(df: DataFrame) -> DataFrame:
    """Page-level long-format table (OP-33 doc->pages explode): the
    relational workhorse for downstream block/image/table queries."""
    return _explode_pages(extracted_docs_with_pages(df))


def extracted_images(
    df: DataFrame,
    min_width: int = 50,
    min_height: int = 50,
) -> DataFrame:
    """Image long table (OP-35/60; ref image_extractor.py:42-166): one row per
    embedded image with payload inline (no side files in a distributed
    engine) and the reference's deterministic artifact name (OP-17,
    file_utils.py:27-60) as a derived column.  The min-size filter (OP-25,
    image_extractor.py:124-128, defaults 50x50) runs RELATIONALLY and before
    any downstream payload work — the filter-before-expensive-projection
    ordering the reference hand-codes."""
    pages = extracted_pages(df)
    imgs = pages.select(
        "url", "page_number", F.explode("images").alias("img")
    ).select(
        "url",
        "page_number",
        F.col("img.image_index").alias("image_index"),
        F.col("img.width").alias("width"),
        F.col("img.height").alias("height"),
        F.col("img.format").alias("format"),
        F.col("img.size_bytes").alias("size_bytes"),
        F.col("img.payload").alias("payload"),
    )
    return imgs.filter(
        (F.col("width") >= min_width) & (F.col("height") >= min_height)
    ).withColumn(
        "artifact_name",
        F.format_string(
            "page_%04d_image_%03d.%s",
            F.col("page_number"), F.col("image_index"), F.col("format"),
        ),
    )


def extracted_tables(df: DataFrame) -> DataFrame:
    """Table long table (OP-36/61; ref table_extractor.py:42-135): one row
    per detected table with the reference's cell cleaning applied
    relationally — null->'' coalesce (OP-15, :123-124), whitespace collapse
    (OP-14, :127-129), all-empty-row drop (OP-28, :131-133), all-empty-table
    drop (:68-69) — plus the ragged-shape stats (OP-45)."""
    pages = extracted_pages(df)
    t = pages.select(
        "url", "page_number", F.posexplode("tables").alias("table_index", "data")
    )
    cleaned = F.transform(
        "data",
        lambda row: F.transform(
            row,
            lambda c: F.regexp_replace(F.trim(F.coalesce(c, F.lit(""))), r"\s+", " "),
        ),
    )
    t = t.select("url", "page_number", "table_index", cleaned.alias("data"))
    t = t.select(
        "url", "page_number", "table_index",
        F.filter(
            "data", lambda row: F.exists(row, lambda c: c != "")
        ).alias("data"),
    ).filter(F.size("data") > 0)
    return t.select(
        "url", "page_number", "table_index", "data",
        F.size("data").alias("n_rows"),
        F.array_max(F.transform("data", lambda r: F.size(r))).alias("n_cols"),
    )


def write_tables_csv(tables: DataFrame, out_dir: str) -> None:
    """CSV table sink (OP-08; ref table_extractor.py:137-171): one CSV
    dataset of exploded cells keyed by (url, page, table, row) — the
    distributed replacement for one-file-per-table."""
    cells = tables.select(
        "url", "page_number", "table_index",
        F.posexplode("data").alias("row_index", "row"),
    ).select(
        "url", "page_number", "table_index", "row_index",
        F.concat_ws(",", F.transform(
            "row", lambda c: F.regexp_replace(c, '[",]', " ")
        )).alias("row_csv"),
    )
    cells.write.mode("overwrite").csv(out_dir, header=True)


# ---------------------------------------------------------------------------
# Checkpointed bucket runner (§4.3.3)
# ---------------------------------------------------------------------------
def read_manifest(out_dir: str) -> list[dict]:
    mf = Path(out_dir) / "_checkpoint" / "manifest.jsonl"
    if not mf.exists():
        return []
    return [json.loads(ln) for ln in mf.read_text().splitlines() if ln.strip()]


def _append_manifest(out_dir: str, entry: dict) -> None:
    ckpt = Path(out_dir) / "_checkpoint"
    ckpt.mkdir(parents=True, exist_ok=True)
    with (ckpt / "manifest.jsonl").open("a") as f:
        f.write(json.dumps(entry, sort_keys=True) + "\n")


def run_extraction(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    parts_per_bucket: int | None = None,
    resume: bool = True,
    write_pages_table: bool = True,
    run_id: str | None = None,
    input_snapshot: str = "",
    fail_after_buckets: int | None = None,
) -> dict:
    """Bucketed, resumable extraction run.

    Each bucket (``pmod(xxhash64(url), n_buckets)``) is one job writing
    ``{out_dir}/docs/bucket=N`` (+ optional pages table) then appending a
    manifest row ``{run_id, input_snapshot, bucket, n_docs, n_bytes, wall_s,
    status}``.  On restart with ``resume=True``, completed buckets are
    skipped — the kill-resume guarantee of the north rule.  Writes are
    idempotent per bucket directory (full overwrite keyed by bucket).

    ``fail_after_buckets`` injects a crash for the resume test.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    parts = parts_per_bucket or max(
        8, spark.sparkContext.defaultParallelism * 2 // max(1, n_buckets)
    )
    done = {e["bucket"] for e in read_manifest(out_dir) if e["status"] == "ok"} if resume else set()

    bucketed = input_df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )
    totals = {"run_id": run_id, "buckets": n_buckets, "docs": 0, "bytes": 0,
              "skipped_buckets": sorted(done), "wall_s": 0.0}

    for b in range(n_buckets):
        if b in done:
            continue
        t0 = time.time()
        part = bucketed.filter(F.col("bucket") == b).drop("bucket")
        routed = route_oversized(part, parts)
        obs = Observation(f"bucket_{b}")
        if write_pages_table:
            # one kernel pass feeds both sinks: persist the docs+pages frame
            # (payload already dropped by the generator — the reference
            # re-parses per concern, /root/reference/.../core/extractor.py:
            # 116,149,201; we don't)
            ext = extracted_docs_with_pages(routed).persist()
            docs = ext.drop("pages")
        else:
            ext = None
            docs = extracted_docs(routed)
        docs = docs.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("n_bytes"),
        )
        docs.write.mode("overwrite").parquet(f"{out_dir}/docs/bucket={b}")
        if write_pages_table:
            _explode_pages(ext).write.mode("overwrite").parquet(
                f"{out_dir}/pages/bucket={b}"
            )
            ext.unpersist()
        wall = time.time() - t0
        n_docs = int(obs.get.get("n_docs") or 0)
        n_bytes = int(obs.get.get("n_bytes") or 0)
        _append_manifest(out_dir, {
            "run_id": run_id, "input_snapshot": input_snapshot, "bucket": b,
            "n_docs": n_docs, "n_bytes": n_bytes,
            "wall_s": round(wall, 3), "status": "ok",
        })
        totals["docs"] += n_docs
        totals["bytes"] += n_bytes
        totals["wall_s"] += wall
        if fail_after_buckets is not None and (b + 1 - len(done)) >= fail_after_buckets:
            raise RuntimeError(f"injected failure after bucket {b}")
    return totals
