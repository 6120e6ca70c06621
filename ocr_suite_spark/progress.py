"""Checkpointed, resumable extraction with per-partition lineage + metrics.

Reference semantics being modeled (/root/reference src/common/database.cpp):

- ``metadata.last_processed_frame`` (110-133): a coarse resume watermark —
  here: per-bucket ``max_offset`` recorded in the progress table.
- ``is_frame_processed`` (122-133) row idempotence: frames already stored are
  skipped. Here: bucket-level idempotence via dynamic partition overwrite —
  a re-run of a bucket replaces its output exactly, never duplicates it.
- These are *different* mechanisms in the reference (empty-result frames
  advance the watermark but are not recorded as rows, database.cpp:50-60);
  we model both: the watermark is metrics metadata, while resume is driven
  by the done-bucket set. Zero-span documents still complete their bucket:
  a group's progress rows are aggregated from its input, where such a
  document is a row, not from the output it wrote, where it has none (a
  group of only zero-span documents writes no data file at all).

Scale design: resume drops the done buckets (SURVEY.md A3 — THE resume
primitive) upstream of the expensive OCR UDF, so pruning happens before
any Python work. The done set has at most ``n_buckets`` rows, so it is
collected to the driver and the pending buckets become an ``IN`` filter:
no join, hence no shuffle of the input (a left anti join planned a
sort-merge join that hash-exchanged the whole input on ``bucket``).
Buckets are ``pmod(xxhash64(doc_id), n_buckets)`` — deterministic,
independent of physical partitioning, and stable across cluster sizes.
At 10^12 documents you'd raise n_buckets (e.g. 4096) so each bucket is
a rewritable unit of work; the progress table stays tiny either way.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import tableio

PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), True),
        T.StructField("n_spans", T.LongType(), True),
        T.StructField("n_media", T.LongType(), True),
        T.StructField("max_offset", T.IntegerType(), True),  # watermark analog
        T.StructField("lineage", T.LongType(), True),  # input fingerprint
        T.StructField("wall_secs", T.DoubleType(), True),
        T.StructField("docs_per_sec", T.DoubleType(), True),
        T.StructField("decode_s", T.DoubleType(), True),  # per-stage split
        T.StructField("ocr_s", T.DoubleType(), True),  # (speed_meter analog)
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


class ProgressStore:
    """Tiny parquet-backed progress table (the SQLite metadata analog).

    Append-only; the latest row per (run_id, bucket) wins. At cluster scale
    this would be an Iceberg table with MERGE; parquet-append keeps the same
    semantics for a single writer (reference is also single-writer per DB,
    database.h:66 mutex).
    """

    def __init__(self, spark: SparkSession, ckpt_dir: str):
        self.spark = spark
        self.path = f"{ckpt_dir.rstrip('/')}/progress"

    def read(self) -> DataFrame:
        try:
            return tableio.read_table(self.spark, self.path, schema=PROGRESS_SCHEMA)
        except Exception:
            return self.spark.createDataFrame([], PROGRESS_SCHEMA)

    def done_ids(self, run_id: str) -> set[int]:
        """The run's done buckets as a driver-side set. Before the first commit
        of a local parquet store there is no table, and no Spark job is
        run (the empty fallback relation of ``read`` is a Python RDD: its
        first scan in a fresh session starts Python workers)."""
        if (
            tableio.TABLE_FORMAT == "parquet"
            and "://" not in self.path
            and not os.path.isdir(self.path)
        ):
            return set()
        done = self.read().where((F.col("run_id") == run_id) & (F.col("status") == "done"))
        return {r["bucket"] for r in done.select("bucket").distinct().collect()}

    def append(self, rows: DataFrame) -> None:
        """Append ``rows`` (PROGRESS_SCHEMA's columns) as one file."""
        tableio.append_table(rows.coalesce(1), self.path)


def _progress_rows(
    pending: DataFrame, run_id: str, bucket_groups: int,
    wall: float, decode_s: float, ocr_s: float,
) -> DataFrame:
    """A committed group's ``done`` rows, one per bucket of its input
    ``pending``, aggregated in the engine. Only ``spans.kind`` and
    ``spans.offset`` are extracted, so nested pruning keeps text and refs
    out of the scan."""
    kinds, offsets = F.col("spans.kind"), F.col("spans.offset")
    stats = pending.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(offsets)).alias("n_spans"),
        F.sum(F.size(F.filter(kinds, lambda k: k == "media"))).alias("n_media"),
        F.max(F.array_max(offsets)).alias("max_offset"),
        # order-independent input fingerprint; XOR (not SUM) so it
        # can't overflow under ANSI mode
        F.bit_xor(F.xxhash64("doc_id")).alias("lineage"),
    )
    # speed_meter analog (speed_meter.cpp:49-50): group-level rate plus the
    # decode/ocr stage split from worker accumulators, attributed to
    # buckets by media share. The window is the group's rows, keyed on the
    # group index: the optimizer drops a literal key (EliminateWindowPartitions)
    # and warns about the unpartitioned window that is left.
    group = Window.partitionBy(F.col("bucket") % bucket_groups)
    share = F.col("n_media") / F.greatest(F.sum("n_media").over(group), F.lit(1))
    return stats.select(
        F.lit(run_id).alias("run_id"),
        "bucket",
        F.lit("done").alias("status"),
        "n_docs",
        "n_spans",
        "n_media",
        "max_offset",
        "lineage",
        F.lit(wall).alias("wall_secs"),
        F.try_divide(F.sum("n_docs").over(group), F.lit(wall)).alias("docs_per_sec"),
        (F.lit(decode_s) * share).alias("decode_s"),
        (F.lit(ocr_s) * share).alias("ocr_s"),
        F.current_timestamp().alias("updated_at"),
    )


def extract_resumable(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    run_id: str = "run-1",
    n_buckets: int = 32,
    meter=None,
    on_error: str = "fail",
    bucket_groups: int = 1,
    stop_requested=None,
) -> DataFrame:
    """Run the extraction pipeline over only the not-yet-done buckets, write
    results partitioned by bucket (idempotent dynamic overwrite), record
    progress + lineage + metrics, and return the full output DataFrame.

    A killed run resumes without recomputing finished buckets: the next call
    filters them out before the OCR UDF ever sees their rows.

    ``stop_requested`` (optional zero-arg callable) is the GRACEFUL
    SHUTDOWN hook (reference T5: SIGINT stops the decode loop after the
    in-flight work, progress already persisted): it is polled between
    bucket groups; when it returns True the run returns early with every
    completed group committed — a later call resumes exactly there.
    Wire it to a signal flag in the job entry point (jobs/extract_job.py).

    ``bucket_groups`` is the CHECKPOINT CADENCE: with 1 (default) the whole
    pending set is one Spark job and a mid-run kill loses the run; with
    g > 1 the pending buckets are processed as g sequential jobs, each
    committing its output partitions AND its progress rows before the next
    starts — the unit of loss on failure becomes n_buckets/g buckets
    (reference analog: per-frame progress commits, database.cpp:85-108).
    Pick g so each group is minutes of cluster work: a group runs ~15
    Spark jobs (done set, emptiness probe, OCR-stage sizing, write,
    progress append), and a warm 250-doc group took 1.6-2.2 s of wall on
    4 local cores (sf0.01, n_buckets=16, g=2), so at 10^12 docs g in the
    hundreds keeps overhead <1% while bounding loss.
    """
    from .lock import SingleInstanceLock
    from .metrics import SpeedMeter
    from .operators import extract as X

    store = ProgressStore(spark, ckpt_dir)
    docs = documents.withColumn("bucket", bucket_col(n_buckets))

    if meter is None:
        meter = SpeedMeter(spark)

    # T6: exactly one extraction per checkpoint dir (reference
    # single-instance semantics incl. stale-lock takeover, lock.py)
    with SingleInstanceLock(ckpt_dir):
        for g in range(bucket_groups):
            if stop_requested is not None and stop_requested():
                break  # graceful: completed groups are committed; resume later
            # done set re-read per group: resume sees every previously
            # committed group, including from killed prior runs
            done = store.done_ids(run_id)
            todo = [b for b in range(g, n_buckets, bucket_groups) if b not in done]
            if not todo:
                continue  # group fully done already (resume)
            pending = docs.where(F.col("bucket").isin(todo))
            if pending.isEmpty():
                continue  # no input docs fall in the pending buckets

            t0 = time.time()
            snap0 = meter.snapshot()
            merged = X.extract(pending.drop("bucket"), meter=meter, on_error=on_error)
            result = merged.withColumn("bucket", bucket_col(n_buckets))
            tableio.write_table(result, out_dir, mode="overwrite", partition_by=["bucket"])
            wall = time.time() - t0
            snap1 = meter.snapshot()
            store.append(
                _progress_rows(
                    pending, run_id, bucket_groups, wall,
                    snap1.decode_s - snap0.decode_s, snap1.ocr_s - snap0.ocr_s,
                )
            )
    # The final read must survive a graceful stop that fired before group 0
    # ever wrote (out_dir absent) and a first group that wrote zero rows (a
    # partitioned empty write leaves a directory with no data files) — both
    # would otherwise raise PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA. The
    # guard is scoped to exactly that no-output-yet condition: any OTHER
    # read failure after committed groups (corrupt footer, FS error,
    # catalog misconfig) must propagate, not masquerade as a clean empty
    # run with all buckets marked done.
    def _has_data_files(d: str) -> bool:
        for root, _, files in os.walk(d):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    # only local paths get the filesystem probe; object-store URIs go
    # straight to the (Iceberg/remote) reader, where an empty TABLE reads
    # as zero rows rather than failing
    if "://" not in out_dir and (
        not os.path.isdir(out_dir) or not _has_data_files(out_dir)
    ):
        from .schema import EXTRACTED_MERGED

        empty = T.StructType(
            list(EXTRACTED_MERGED.fields)
            + [T.StructField("bucket", T.IntegerType(), True)]
        )
        return spark.createDataFrame([], empty)
    return tableio.read_table(spark, out_dir)

