"""The traced run: per-layer metrics, measured from outside the engine.

The engine is lazy, so nearly all of a job's work happens inside the one
action that writes its output; spans around the benchmark's calls into each
module therefore show where wall time is spent between calls, and layer
costs come from four methods that need no hooks in the engine:

- **cumulative stages**: the same staged input through a growing plan,
  each ending in the ``noop`` sink -- scan; + ``route_oversized``; + an
  identity ``mapInPandas``; the same plus a struct-returning pandas UDF
  (the ``extract_udf`` boundary); the full ``extracted_docs`` plan; and the
  plan writing parquet.  Differences between neighbours are layer costs.
- **in-process ledger**: ``kernels.dispatch.extract_document`` +
  ``assemble_doc_text`` timed per staged payload, by kind.
- **profiler**: ``cProfile`` over ``kernels.pdf.parse_pdf`` on the staged
  PDFs, self time grouped into phases by function.
- **the program's own records**: the ``run_extraction`` manifest.

Spans (name, start, end, parent, run id) and their counts are written as
JSONL next to the run record.
"""

from __future__ import annotations

import bisect
import cProfile
import gzip
import inspect
import json
import pstats
import statistics
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

from common import OUT, RUNS

STAGE_REPS = 3
TRACED_JOBS = 3
#: PDFs profiled per traced run (the first ones in staged order).
PROFILE_PDFS = 120
KINDS = ("html", "pdf", "raw", "gzip")
PHASES = ("xref_lex", "filters", "fonts", "content", "tables")


class Tracer:
    """In-memory spans, written out once at the end of the run."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), **counts}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: Path) -> None:
        with path.open("w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _med(xs) -> float:
    return statistics.median(xs)


def _p99(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[98] if len(xs) > 1 else (xs or [0.0])[0]


# ---------------------------------------------------------------------------
# cumulative stages
# ---------------------------------------------------------------------------
def _stage_frames(spark, staged, parts: int) -> dict:
    from pyspark.sql.functions import pandas_udf

    from pdf_extractor_spark.plans.pipeline import extracted_docs, route_oversized
    from pdf_extractor_spark.schema import EXTRACTION_SCHEMA

    def read():
        return spark.read.parquet(staged.input_dir)

    def routed():
        return route_oversized(read(), parts)

    def identity(batches):
        # payload in, small rows out: the shape of the slim extract path
        for pdf in batches:
            yield pdf.drop(columns=["html"])

    @pandas_udf(EXTRACTION_SCHEMA)
    def empty_extraction(payload: pd.Series) -> pd.DataFrame:
        n = len(payload)
        return pd.DataFrame({"kind": ["raw"] * n, "status": ["ok"] * n, "error": [None] * n,
                             "title": [""] * n, "n_pages": [0] * n, "pages": [[]] * n,
                             "metadata": [{}] * n})

    def boundary():
        r = routed()
        return r.mapInPandas(identity, schema=r.drop("html").schema)

    return {
        "scan": read,
        "shuffle": routed,
        "boundary": boundary,
        "struct_boundary": lambda: routed().withColumn("ext", empty_extraction("html")).drop("html"),
        "docs_noop": lambda: extracted_docs(routed()),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cumulative_stages(runner, tracer: Tracer) -> dict[str, float]:
    """Median wall of each cumulative stage; repetitions are interleaved
    so host drift spreads over every stage alike."""
    import jobs

    spark, staged = runner.engine.spark, runner.staged
    frames = _stage_frames(spark, staged, runner.engine.parts)
    walls: dict[str, list[float]] = {k: [] for k in [*frames, "docs_write"]}
    out = str(OUT / "trace-docs")
    for rep in range(STAGE_REPS):
        for name, make in frames.items():
            with tracer.span(f"stage.{name}", rep=rep, docs=staged.n_docs) as s:
                _noop(make())
            walls[name].append(s["end"] - s["start"])
        jobs.clear(out)
        with tracer.span("stage.docs_write", rep=rep, docs=staged.n_docs) as s:
            jobs.docs_job(spark, staged, out, runner.engine.parts)
        walls["docs_write"].append(s["end"] - s["start"])
    jobs.clear(out)
    return {k: _med(v) for k, v in walls.items()}


def partition_balance(runner) -> tuple[float, int]:
    """(max/p50 of payload bytes per partition, max oversized docs in one
    partition) after route_oversized, by spark_partition_id."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.plans.pipeline import OVERSIZE_THRESHOLD, route_oversized

    parts = runner.engine.parts
    df = route_oversized(runner.engine.spark.read.parquet(runner.staged.input_dir), parts)
    rows = df.groupBy(F.spark_partition_id().alias("p")).agg(
        F.sum(F.length("html")).alias("b"),
        F.sum((F.length("html") > OVERSIZE_THRESHOLD).cast("int")).alias("o"),
    ).collect()
    by_part = [0] * parts
    over = [0] * parts
    for r in rows:
        by_part[r["p"]], over[r["p"]] = r["b"], r["o"]
    return max(by_part) / _med(by_part), max(over)


# ---------------------------------------------------------------------------
# in-process kernel ledger and PDF phase profile
# ---------------------------------------------------------------------------
def _payloads(staged) -> list[bytes]:
    return pq.read_table(staged.input_dir, columns=["html"]).column("html").to_pylist()


def kernel_ledger(payloads: list[bytes]) -> dict:
    from pdf_extractor_spark.kernels.dispatch import assemble_doc_text, extract_document

    ms = {k: [] for k in KINDS}
    cpu = dict.fromkeys(KINDS, 0.0)
    errors = dict.fromkeys(KINDS, 0)
    for p in payloads:
        t0, c0 = time.perf_counter(), time.process_time()
        r = extract_document(p)
        assemble_doc_text(r)
        t1, c1 = time.perf_counter(), time.process_time()
        kind = "gzip" if p[:3] == b"\x1f\x8b\x08" else r["kind"]
        ms[kind].append(1000 * (t1 - t0))
        cpu[kind] += c1 - c0
        errors[kind] += r["status"] != "ok"
    total = sum(cpu.values()) or 1.0
    return {k: {"docs": len(ms[k]), "ms_p50": _med(ms[k]) if ms[k] else 0.0,
                "ms_p99": _p99(ms[k]), "cpu_share": cpu[k] / total,
                "error_docs": errors[k]} for k in KINDS}


# Phase of each function in kernels/pdf.py, by qualified name of the
# top-level function or method that contains it; anything unlisted is
# content-stream interpretation.  Stream decoders in sibling kernel modules
# (ccitt, jpeg, png, crypto) count as filters.
_XREF_LEX = {"PdfError", "Name", "Ref", "Stream", "_Lexer", "Document", "_walk_pages"}
_FILTERS = {"_ascii_hex_decode", "_ascii85_decode", "_flate_decode", "_lzw_decode",
            "_run_length_decode", "_png_unpredict", "_tiff_unpredict", "_page_images",
            "Document.raw_data", "Document.stream_data", "Document._unpredict",
            "Document._setup_decryption", "Document._setup_v5", "Document._obj_crypt",
            "Document._decrypt_strings"}
_FONTS = {"_decode_pdf_string", "_hexbytes", "_parse_tounicode", "_parse_cid_cmap",
          "_CidDecoder", "_VarWidthCidDecoder", "_ucs2_decode", "_CodecCMapDecoder",
          "_usecmap_base", "_glyph_to_unicode", "_standard_encoding_table",
          "_simple_encoding_table", "_TableDecoder", "_parse_truetype_cmap",
          "_descendant_cid2uni", "_page_fonts", "_fonts_from_resources"}
_TABLES = {"_detect_tables", "detect_tables_with_cols", "_region_to_table"}
_FILTER_MODULES = ("ccitt.py", "jpeg.py", "png.py", "crypto.py")


def _pdf_phase_index(pdf_mod):
    """Sorted (first line, qualified name) of every top-level function,
    class and method in kernels/pdf.py."""
    defs = []
    for name, obj in vars(pdf_mod).items():
        if getattr(obj, "__module__", None) != pdf_mod.__name__:
            continue
        if inspect.isfunction(obj):
            defs.append((obj.__code__.co_firstlineno, name))
        elif inspect.isclass(obj):
            defs.append((inspect.getsourcelines(obj)[1], name))
            for mname, m in vars(obj).items():
                if inspect.isfunction(m):
                    defs.append((m.__code__.co_firstlineno, f"{name}.{mname}"))
    defs.sort()
    return [d[0] for d in defs], [d[1] for d in defs]


def _phase_of_pdf_name(qual: str) -> str:
    for names, phase in ((_FILTERS, "filters"), (_FONTS, "fonts"), (_TABLES, "tables")):
        if qual in names or qual.split(".")[0] in names:
            return phase
    if qual.split(".")[0] in _XREF_LEX:
        return "xref_lex"
    return "content"


def pdf_phases(payloads: list[bytes]) -> dict[str, float]:
    """Share of parse_pdf self time per phase.  Time in builtins and other
    modules is charged to the callers that spent it, in proportion."""
    from pdf_extractor_spark.kernels import pdf as pdf_mod

    docs = []
    for p in payloads:
        if p[:3] == b"\x1f\x8b\x08":
            p = gzip.decompress(p)
        if b"%PDF-" in p[:1024]:
            docs.append(p[p.index(b"%PDF-"):])
    prof = cProfile.Profile()
    for d in docs[:PROFILE_PDFS]:
        prof.enable()
        try:
            pdf_mod.parse_pdf(d)
        except Exception:  # a parse error is still time spent in phases
            pass
        finally:
            prof.disable()
    stats = pstats.Stats(prof).stats
    lines, names = _pdf_phase_index(pdf_mod)
    pdf_file = pdf_mod.__file__
    memo: dict = {}

    def owner(key, seen=frozenset()) -> dict[str, float]:
        if key in memo:
            return memo[key]
        file, line, _ = key
        if file == pdf_file:
            i = bisect.bisect_right(lines, line) - 1
            res = {_phase_of_pdf_name(names[i]) if i >= 0 else "content": 1.0}
        elif file.endswith(_FILTER_MODULES):
            res = {"filters": 1.0}
        else:
            callers = stats[key][4] if key in stats else {}
            weights = {c: v[2] for c, v in callers.items() if c not in seen}
            total = sum(weights.values())
            res = {}
            for c, w in weights.items():
                for ph, f in owner(c, seen | {key}).items():
                    res[ph] = res.get(ph, 0.0) + f * (w / total if total else 1 / len(weights))
            res = res or {"other": 1.0}
        memo[key] = res
        return res

    spent = dict.fromkeys([*PHASES, "other"], 0.0)
    for key, (_, _, tt, _, _) in stats.items():
        for ph, f in owner(key).items():
            spent[ph] += tt * f
    total = sum(spent.values()) or 1.0
    return {ph: v / total for ph, v in spent.items()} | {"pdfs": min(len(docs), PROFILE_PDFS)}


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------
def manifest_stats(out: str, totals: dict, n_docs: int) -> dict:
    from pdf_extractor_spark.plans.pipeline import read_manifest

    m = read_manifest(out)
    walls = [e["wall_s"] for e in m]
    return {"bucket_s_p50": _med(walls), "bucket_s_max_over_p50": max(walls) / _med(walls),
            "redo_docs": sum(e["n_docs"] for e in m) - n_docs,
            "buckets_skipped": len(totals["skipped_buckets"])}


def scaling(runner, docs_per_s_n: float) -> tuple[float, float]:
    """docs/s of the full docs plan (noop sink) at local[1], and the N-core
    scaling efficiency against ``docs_per_s_n`` measured at local[N]."""
    n_cores = runner.engine.cores
    runner.engine.restart(cores=1)
    runner.engine.first_job(runner.staged)
    frames = _stage_frames(runner.engine.spark, runner.staged, runner.engine.parts)
    t0 = time.perf_counter()
    _noop(frames["docs_noop"]())
    dps1 = runner.staged.n_docs / (time.perf_counter() - t0)
    return dps1, docs_per_s_n / (n_cores * dps1)


def traced_run(runner, staged, setup: dict):
    import jobs
    import stage

    tracer = Tracer()
    n = staged.n_docs
    with tracer.span("jobs.untraced"):
        untraced = [runner.measured() for _ in range(TRACED_JOBS)]
    traced = []
    with tracer.span("jobs.traced"):
        for i in range(TRACED_JOBS):
            with tracer.span("job", i=i, docs=n) as s:
                j = runner.measured(span=tracer.span)
                s.update(cpu_s=j["cpu_s"], rss_jvm=j["rss"]["jvm"], rss_py=j["rss"]["py"],
                         problems=j["n_problems"])
            traced.append(j)
    all_jobs = untraced + traced
    with tracer.span("layers.stages"):
        st = cumulative_stages(runner, tracer)
    with tracer.span("layers.partitions"):
        skew, over_max = partition_balance(runner)
    with tracer.span("layers.run_extraction"):
        if runner.wl.plan == "bucketed":
            mstats = manifest_stats(runner.out, traced[-1]["totals"], n)
        else:
            b = jobs.WORKLOADS["bucketed_pages"]
            bstaged = stage.stage("bucketed_pages", b.docs, runner.seed)
            bout = str(OUT / "trace-bucketed")
            jobs.clear(bout)
            totals = jobs.bucketed_job(runner.engine.spark, bstaged, bout)
            problems = jobs.check_bucketed(bstaged, bout, totals)
            if problems:
                raise RuntimeError(f"bucketed run for the manifest ledger failed: {problems[:3]}")
            mstats = manifest_stats(bout, totals, bstaged.n_docs)
            jobs.clear(bout)
    payloads = _payloads(staged)
    with tracer.span("layers.kernel_ledger", docs=len(payloads)):
        ledger = kernel_ledger(payloads)
    with tracer.span("layers.pdf_profile"):
        phases = pdf_phases(payloads)
    with tracer.span("layers.scaling"):
        dps1, eff = scaling(runner, n / st["docs_noop"])

    med = _med
    m = {
        "session.start_s": (setup["start_s"], "s"),
        "session.warmup_s": (setup["first_job_s"], "s"),
        "session.docs_per_s_local1": (dps1, "docs/s"),
        "session.scaling_eff_1toN": (eff, "ratio"),
        "sources.stage_s": (staged.stage_s, "s"),
        "sources.input_mib": (staged.input_bytes / 2**20, "MiB"),
        "sources.cache_hits": (staged.cache_hits, "count"),
        **{f"sources.docs.{k}": (staged.kind_counts[k], "count") for k in KINDS},
        "sources.scan_s": (st["scan"], "s"),
        "plans.route_oversized.shuffle_s": (st["shuffle"], "s"),
        "plans.route_oversized.part_bytes_max_over_p50": (skew, "ratio"),
        "plans.route_oversized.oversized_per_part_max": (over_max, "count"),
        "operators.extract.boundary_s": (st["boundary"], "s"),
        "operators.extract.struct_boundary_s": (st["struct_boundary"], "s"),
        **{f"kernels.dispatch.{k}.{f}": (ledger[k][f], u) for k in KINDS
           for f, u in (("ms_p50", "ms"), ("ms_p99", "ms"), ("cpu_share", "fraction"))},
        **{f"kernels.dispatch.error_docs.{k}": (ledger[k]["error_docs"], "count") for k in KINDS},
        **{f"kernels.pdf.phase.{ph}_share": (phases[ph], "fraction") for ph in PHASES},
        "plans.pipeline.docs_noop_s": (st["docs_noop"], "s"),
        "plans.pipeline.write_s": (st["docs_write"] - st["docs_noop"], "s"),
        **{f"plans.pipeline.run_extraction.{k}": (v, "s" if k == "bucket_s_p50" else
                                                  "ratio" if "over" in k else "count")
           for k, v in mstats.items()},
        "mem.jvm_rss_peak_mib": (med(j["rss"]["jvm"] for j in traced) / 2**20, "MiB"),
        "mem.pyworker_rss_peak_mib": (med(j["rss"]["py"] for j in traced) / 2**20, "MiB"),
        "error_frac": (sum(1 for j in all_jobs if j["n_problems"]) / len(all_jobs), "fraction"),
        "trace.overhead_frac": (med(j["wall_s"] for j in traced)
                                / med(j["wall_s"] for j in untraced) - 1, "fraction"),
    }
    RUNS.mkdir(parents=True, exist_ok=True)
    span_path = RUNS / f"{time.strftime('%Y%m%dT%H%M%S')}-{runner.workload}-s{runner.seed}-spans.jsonl"
    tracer.write(span_path)
    detail = {"jobs": all_jobs, "stages": st, "ledger": ledger, "pdf_phases": phases,
              "spans": str(span_path.name)}
    return m, detail
