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
  by the done-bucket set, so zero-span documents still complete their
  bucket.

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
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
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

    def append(self, rows: list[dict]) -> None:
        df = self.spark.createDataFrame(
            [tuple(r.get(f.name) for f in PROGRESS_SCHEMA.fields) for r in rows],
            PROGRESS_SCHEMA,
        )
        tableio.append_table(df.coalesce(1), self.path)


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
    Pick g so each group is minutes of cluster work: per-group fixed cost
    is one job submission + one progress append (~1-2 s here), so at
    10^12 docs g in the hundreds keeps overhead <1% while bounding loss.
    """
    from .lock import SingleInstanceLock
    from .metrics import SpeedMeter

    store = ProgressStore(spark, ckpt_dir)
    docs = documents.withColumn("bucket", bucket_col(n_buckets))

    if meter is None:
        meter = SpeedMeter(spark)

    # T6: exactly one extraction per checkpoint dir (reference
    # single-instance semantics incl. stale-lock takeover, lock.py)
    with SingleInstanceLock(ckpt_dir):
        _run_groups(
            spark, store, docs, out_dir, run_id, n_buckets,
            meter, on_error, bucket_groups, stop_requested,
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


def _run_groups(
    spark, store, docs, out_dir, run_id, n_buckets,
    meter, on_error, bucket_groups, stop_requested=None,
) -> None:
    from .operators import extract as X

    for g in range(bucket_groups):
        if stop_requested is not None and stop_requested():
            return  # graceful: completed groups are committed; resume later
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

        # per-bucket metrics + lineage from the *written* output (one extra
        # scan of the small output, not a recompute of the pipeline)
        out = tableio.read_table(spark, out_dir).where(F.col("bucket").isin(todo))
        stats = (
            out.groupBy("bucket")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.size("spans")).alias("n_spans"),
                F.sum(
                    F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "media"))
                ).alias("n_media"),
                F.max(F.element_at(F.col("spans"), -1)["order"]).alias("max_offset"),
                # order-independent input fingerprint; XOR (not SUM) so it
                # can't overflow under ANSI mode
                F.bit_xor(F.xxhash64("doc_id")).alias("lineage"),
            )
            .collect()
        )
        if not stats:
            continue  # pending docs were all zero-span: no output rows
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        snap1 = meter.snapshot()
        total_docs = sum(r["n_docs"] for r in stats) or 1
        total_media = sum(r["n_media"] for r in stats) or 1
        g_decode = snap1.decode_s - snap0.decode_s
        g_ocr = snap1.ocr_s - snap0.ocr_s
        store.append(
            [
                {
                    "run_id": run_id,
                    "bucket": r["bucket"],
                    "status": "done",
                    "n_docs": r["n_docs"],
                    "n_spans": r["n_spans"],
                    "n_media": r["n_media"],
                    "max_offset": r["max_offset"],
                    "lineage": r["lineage"],
                    "wall_secs": wall,
                    # speed_meter analog (speed_meter.cpp:49-50): group-level
                    # rate plus the decode/ocr stage split from worker
                    # accumulators, attributed to buckets by media share
                    "docs_per_sec": total_docs / wall if wall > 0 else None,
                    "decode_s": g_decode * r["n_media"] / total_media,
                    "ocr_s": g_ocr * r["n_media"] / total_media,
                    "updated_at": now,
                }
                for r in stats
            ]
        )
