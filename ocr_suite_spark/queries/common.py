"""Shared helpers for the query registry."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import tokens_col  # noqa: F401  (the one tokenizer)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Golden-fixture oracles (the VERDICT r1 'media_frame_sample pattern',
# generalized): for UDF-backed queries DuckDB cannot express, the expected
# output at sf0.01 is committed as a parquet fixture and the oracle is a
# plain read of it. Valid ONLY at sf0.01 (the driver's correctness SF);
# regenerate with `python tests/gen_goldens.py` whenever datagen or the
# kernels change. Input identity holds because datagen is pure xxhash64
# Column exprs (no RNG state) and the kernels are deterministic.

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
GOLDEN_DIR = os.path.join(_REPO_ROOT, "tests", "fixtures", "golden")
GOLDEN_SF_DIR = "/root/testdata/sf0.01"

# second-SF goldens (sf0.001): never registered as driver oracles — they
# exist so test_golden_parity can verify the golden pipeline at TWO scale
# factors, de-risking the sf0.01-pinned oracles against a driver SF change
GOLDEN_DIR_SMALL = os.path.join(_REPO_ROOT, "tests", "fixtures", "golden-sf0.001")
GOLDEN_SMALL_SF_DIR = "/root/testdata/sf0.001"


def golden_sql(name: str) -> str:
    return f"SELECT * FROM read_parquet('{GOLDEN_DIR}/{name}.parquet')"


# DuckDB twin of tokens_col (operators/extract.py). Explicit ASCII-whitespace class,
# NOT \s: RE2's \s is [\t\n\f\r ] (no vertical tab) while Java's and
# Python-ASCII's \s include \x0b — a bare \s here would silently diverge on
# \v-containing text (covered in tests/test_textnorm_property.py).
DUCK_TOKENS = r"list_filter(string_split_regex(text, '[ \t\n\r\f\x0b]+'), x -> length(x) >= 3)"


def fsec(col: Column) -> Column:
    """Spark: epoch seconds as BIGINT (floor). DuckDB twin:
    CAST(FLOOR(epoch(ts)) AS BIGINT)."""
    return F.unix_timestamp(col)


def floor3(col: Column) -> Column:
    """floor(x*1000)/1000 — fixed-precision floats that survive order-
    insensitive hashing across engines."""
    return F.floor(col * 1000) / 1000
