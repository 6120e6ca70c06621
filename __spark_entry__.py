"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). Fill these in
as you implement operators from SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full OCR-extraction pipeline over the interleaved
    text+media corpus derived deterministically from sf0.001 documents.

    documents -> explode spans -> route by kind -> (normalizer ||
    media_ref-partitioned mapInPandas OCR) -> union -> merge by offset into
    per-doc (kind, text, media_ref, order) sequences.
    """
    from ocr_suite_spark import datagen
    from ocr_suite_spark.operators import extract as X

    docs = datagen.interleaved_from_documents(spark, "/root/testdata/sf0.001")
    return X.extract(docs)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    training-data pipeline operators). See ocr_suite_spark/queries/."""
    from ocr_suite_spark import queries as Q

    return Q.queries()


def oracle_sql() -> dict[str, str]:
    """For each key in ``queries()``, equivalent ANSI SQL runnable by
    DuckDB on the same parquet tables (pre-registered views: region
    nation customer supplier part orders lineitem events documents
    embeddings). Omit for non-SQL-expressible ops → driver records a
    weaker rows-only check.
    """
    from ocr_suite_spark import queries as Q

    return Q.oracle_sql()
