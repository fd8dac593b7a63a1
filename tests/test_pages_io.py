"""Pages-table I/O default format (sources/pages.py): without an Iceberg
runtime on the classpath, the capability probe answers False and the
fmt=None default reads and writes Parquet."""

import os

import pytest

from pdf_extractor_spark.sources.pages import (
    corpus_df,
    iceberg_available,
    read_pages,
    write_pages,
)

pytestmark = pytest.mark.skipif(
    bool(os.environ.get("ICEBERG_SPARK_RUNTIME_JAR")),
    reason="an Iceberg runtime jar is configured",
)


def test_probe_false_without_jar(spark):
    assert iceberg_available(spark) is False


def test_default_format_round_trips_parquet(spark, tmp_path):
    df = corpus_df(spark, 24, seed=7, parts=2)
    path = str(tmp_path / "pages")
    write_pages(df, path)
    assert list((tmp_path / "pages").glob("*.parquet"))
    back = read_pages(spark, path)
    assert [(f.name, f.dataType) for f in back.schema] == \
        [(f.name, f.dataType) for f in df.schema]
    key = lambda r: (r["url"], r["html"])
    assert sorted(map(key, back.collect())) == sorted(map(key, df.collect()))
