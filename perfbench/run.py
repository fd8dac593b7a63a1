"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_docs --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run

1. stages the workload's input for the seed (stage.py; cached),
2. sets up the engine from cold -- launch a JVM and start a
   ``local[nproc]`` session through ``session.get_spark``, load and count
   the staged table, run a first small job -- and reports that as
   ``setup_s``,
3. warms up with full jobs until their walls stop falling,
4. times full jobs in a closed loop with one client until ``--seconds`` of
   job wall have been measured, checking every output against the staged
   digest (jobs.py),
5. stops the engine, then any process still running below it, and waits
   for each to end (on every path out, errors included).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` a separate traced run carries the per-layer metrics
(layers.py).  METRICS.md documents every metric.  A per-run record with
provenance goes to ``.perfbench_work/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from common import OUT, ROOT, RUNS, TMP, ENGINE, mem_total_bytes, nproc, require_engine, tree_hash  # noqa: E402
import procmon  # noqa: E402

#: Docs in the first job of the set-up: enough to start every
#: Python worker and import every kernel.
FIRST_JOB_DOCS = 256
WARMUP_MIN, WARMUP_MAX = 2, 3
#: Warm-up ends once a job is no faster than this share of the best so far.
WARMUP_PLATEAU = 0.97
MIN_TIMED_JOBS = 3


def spark_env() -> str:
    """Point every scratch file into the work directory and size the Spark
    driver JVM from MemTotal (a quarter of it: the JVM, its Python workers
    and the benchmark must fit in RAM together)."""
    (TMP / "spark").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(TMP)
    os.environ["SPARK_LOCAL_DIRS"] = str(TMP / "spark")
    mem = f"{mem_total_bytes() // 4 // 2**20}m"
    os.environ["SPARK_DRIVER_MEM"] = mem
    return mem


SPARK_EXTRA = {
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
}


class Engine:
    """The Spark session under test and the process tree behind it."""

    def __init__(self, cores: int):
        self.cores = cores
        self.parts = 2 * cores
        self.spark = None

    def start(self):
        from pdf_extractor_spark.session import get_spark

        self.spark = get_spark(cores=self.cores, extra=SPARK_EXTRA)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid  # noqa: SLF001

    def restart(self, cores: int | None = None):
        """Stop the SparkContext (and its Python workers) and start a new
        one in the same JVM (traced runs only)."""
        self.spark.stop()
        if cores is not None:
            self.cores = cores
        return self.start()

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway  # noqa: SLF001
        self.spark.stop()
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        self.spark = None

    def first_job(self, staged) -> None:
        """A small docs job: starts the Python workers and imports the
        kernels in them."""
        from pdf_extractor_spark.plans.pipeline import extracted_docs, route_oversized

        df = self.spark.read.parquet(staged.input_dir).limit(FIRST_JOB_DOCS)
        extracted_docs(route_oversized(df, self.parts)).write.format("noop").mode("overwrite").save()


def set_up(engine: Engine, staged) -> dict:
    """Set-up from cold: the JVM is launched inside the clock."""
    t0 = time.perf_counter()
    engine.start()
    t1 = time.perf_counter()
    n = engine.spark.read.parquet(staged.input_dir).count()
    if n != staged.n_docs:
        raise RuntimeError(f"staged table has {n} rows, want {staged.n_docs}")
    t2 = time.perf_counter()
    engine.first_job(staged)
    t3 = time.perf_counter()
    return {"start_s": t1 - t0, "load_s": t2 - t1, "first_job_s": t3 - t2, "total_s": t3 - t0}


class Runner:
    """Runs one workload's job and checks its output."""

    def __init__(self, engine: Engine, workload: str, seed: int, staged):
        import jobs

        self.jobs = jobs
        self.engine = engine
        self.workload = workload
        self.seed = seed
        self.wl = jobs.WORKLOADS[workload]
        self.staged = staged
        self.out = str(OUT / workload)

    def run_job(self, span) -> dict | None:
        self.jobs.clear(self.out)
        if self.wl.plan == "docs":
            self.jobs.docs_job(self.engine.spark, self.staged, self.out, self.engine.parts, span)
            return None
        return self.jobs.bucketed_job(self.engine.spark, self.staged, self.out, span)

    def check(self, totals) -> list[str]:
        if self.wl.plan == "docs":
            return self.jobs.check_docs(self.staged, self.out)
        return self.jobs.check_bucketed(self.staged, self.out, totals)

    def measured(self, tamper=None, span=None) -> dict:
        """One job: wall, CPU of the engine's process tree, high-water RSS, and the
        oracle's verdict (checked after the wall clock stops).  ``span`` wraps
        each engine call (traced runs); ``tamper``, if given, edits the
        output before the check (self-test only)."""
        pid = self.engine.jvm_pid
        # A full GC shrinks the JVM heap to what is live, so each job's peak
        # RSS starts from the same state instead of from the heap that earlier
        # jobs happened to grow (G1 never returns it on its own).
        self.engine.spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        procmon.reset_peaks(pid)
        cpu0 = procmon.cpu_seconds(pid)
        t0 = time.perf_counter()
        totals = self.run_job(span or self.jobs.no_span)
        wall = time.perf_counter() - t0
        cpu = procmon.cpu_seconds(pid) - cpu0
        peak = procmon.peak_rss(pid)
        if tamper is not None:
            tamper(self.out)
        problems = self.check(totals)
        return {"wall_s": wall, "cpu_s": cpu, "rss": peak, "problems": problems[:5],
                "n_problems": len(problems), "totals": totals}

    def warm_up(self) -> list[dict]:
        out = []
        while len(out) < WARMUP_MAX:
            out.append(self.measured())
            walls = [j["wall_s"] for j in out]
            if len(out) >= WARMUP_MIN and walls[-1] >= WARMUP_PLATEAU * min(walls[:-1]):
                break
        return out

    def timed(self, seconds: float, tamper=None) -> list[dict]:
        out = []
        while len(out) < MIN_TIMED_JOBS or sum(j["wall_s"] for j in out) < seconds:
            out.append(self.measured(tamper=tamper if len(out) == 1 else None))
        return out


def end_to_end(staged, setup: dict, timed: list[dict]) -> dict:
    n = staged.n_docs
    failed = sum(1 for j in timed if j["n_problems"])
    med = statistics.median
    return {
        "docs_per_s": (n / med(j["wall_s"] for j in timed), "docs/s"),
        "cpu_s_per_kdoc": (1000 * med(j["cpu_s"] for j in timed) / n, "s"),
        "peak_rss_mib": (med(j["rss"]["sum"] for j in timed) / 2**20, "MiB"),
        "setup_s": (setup["total_s"], "s"),
        "ok_frac": ((len(timed) - failed) / len(timed), "fraction"),
    }


def provenance(engine: Engine) -> dict:
    conf = dict(engine.spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.sql.", "spark.driver.extraJavaOptions")
    return {
        "git_head": procmon.git_head(ROOT),
        "engine_sha": tree_hash(ENGINE),
        "versions": procmon.versions(),
        "nproc": nproc(),
        "mem_total_mib": mem_total_bytes() // 2**20,
        "spark_conf": {k: v for k, v in sorted(conf.items()) if k.startswith(keep)},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    procmon.adopt_orphans()
    try:
        return measure(args)
    finally:
        for p in procmon.stop_descendants():
            print(f"perfbench: stopped leftover process {p}", file=sys.stderr)


def measure(args) -> int:
    require_engine()
    import jobs
    import stage

    if args.workload not in jobs.WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(jobs.WORKLOADS)}")
    wl = jobs.WORKLOADS[args.workload]
    driver_mem = spark_env()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "driver_mem": driver_mem,
              "probe_before_s": procmon.host_probe(), "loadavg_before": procmon.loadavg()}
    steal0 = procmon.steal_ticks()

    staged = stage.stage(args.workload, wl.docs, args.seed)
    record["input"] = {"docs": staged.n_docs, "mib": staged.input_bytes / 2**20,
                       "kinds": staged.kind_counts, "oversized": staged.oversized,
                       "pages": staged.n_pages, "cache_hits": staged.cache_hits,
                       "pool_s": staged.pool_s, "stage_s": staged.stage_s}
    engine = Engine(nproc())
    try:
        setup = set_up(engine, staged)
        record["provenance"] = provenance(engine)
        runner = Runner(engine, args.workload, args.seed, staged)
        warm = runner.warm_up()
        if args.trace:
            import layers

            metrics, detail = layers.traced_run(runner, staged, setup)
            timed = detail.pop("jobs")
            record["trace"] = detail
        else:
            timed = runner.timed(args.seconds)
            metrics = end_to_end(staged, setup, timed)
    finally:
        engine.shutdown()
    record.update(setup=setup, warmup=warm, jobs=timed,
                  probe_after_s=procmon.host_probe(), loadavg_after=procmon.loadavg(),
                  steal_ticks=procmon.steal_ticks() - steal0)
    failed = sum(1 for j in timed if j["n_problems"])
    result = {
        "correct": failed == 0 and not any(j["n_problems"] for j in warm),
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record["result"] = result
    RUNS.mkdir(parents=True, exist_ok=True)
    rec_path = RUNS / f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}.json"
    rec_path.write_text(json.dumps(record, indent=1, default=str))
    print(f"run record: {rec_path.relative_to(ROOT)}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
