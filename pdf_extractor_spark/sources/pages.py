"""Input-table source layer (SURVEY.md OP-01 / §7 milestone 2).

Two capabilities:

1. ``corpus_df``: distributed synthetic-corpus generation — doc payloads are
   generated on EXECUTORS via ``mapInPandas`` over ``spark.range(n)``, so a
   200k-doc bench corpus never materializes on the driver.  Deterministic:
   payload is a pure function of (doc_id, seed).

2. ``write_pages`` / ``read_pages``: the Iceberg-style table layer.  Uses the
   Iceberg catalog when the runtime jar is present, Parquet with an identical
   column layout otherwise (this sandbox has no Iceberg jar — SURVEY.md
   preamble); the pipeline is format-agnostic either way.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schema import PAGES_INPUT_SCHEMA
from .synth import gen_doc

__all__ = ["corpus_df", "write_pages", "read_pages", "iceberg_available"]


def corpus_df(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    host_skew: float = 0.3,
    oversize_frac: float = 0.01,
    oversize_bytes: int = 1 << 20,
    parts: int | None = None,
) -> DataFrame:
    """Deterministic synthetic pages table, generated executor-side."""
    parts = parts or max(4, n_docs // 2000)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                gen_doc(int(i), seed=seed, host_skew=host_skew,
                        oversize_frac=oversize_frac, oversize_bytes=oversize_bytes)
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n_docs, numPartitions=parts)
        .mapInPandas(gen, schema=PAGES_INPUT_SCHEMA)
    )


def iceberg_available(spark: SparkSession) -> bool:
    """Loads an Iceberg class through the context classloader: attribute
    access on ``spark._jvm`` answers any unknown name with a JavaPackage."""
    jvm = spark._jvm  # noqa: SLF001 - capability probe
    try:
        loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
        jvm.java.lang.Class.forName("org.apache.iceberg.Table", False, loader)
        return True
    except Exception:
        return False


def write_pages(df: DataFrame, path: str, fmt: str | None = None,
                mode: str = "overwrite") -> None:
    fmt = fmt or ("iceberg" if iceberg_available(df.sparkSession) else "parquet")
    df.write.format(fmt).mode(mode).save(path)


def read_pages(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    fmt = fmt or ("iceberg" if iceberg_available(spark) else "parquet")
    return spark.read.format(fmt).load(path)
