#!/usr/bin/env python3
"""Cluster entry point: the OCR-extraction job, packaged for spark-submit.

    python -m zipfile -c ocr_suite_spark.zip ocr_suite_spark
    spark-submit --py-files ocr_suite_spark.zip jobs/extract_job.py \
        --input  <documents parquet/iceberg path or testdata sf dir> \
        --output <extracted-spans table path> \
        --checkpoint <progress table path> [--run-id r1] [--n-buckets 64]

The SAME artifact runs at every cluster size (the north rule's N vs 4N
criterion benchmarks exactly this invocation at two parallelism levels).
No master/parallelism is hard-coded here — spark-submit owns that.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents table path, or a testdata sf dir")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--run-id", default="run-1")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument(
        "--bucket-groups", type=int, default=8,
        help="checkpoint cadence: pending buckets run as this many "
        "sequential jobs, each committing output + progress before the "
        "next — the unit of loss on a mid-run kill is n_buckets/groups",
    )
    p.add_argument(
        "--on-error", choices=("fail", "quarantine"), default="quarantine",
        help="quarantine (default for long production runs): corrupt media "
        "payloads become NULL-text spans and are counted, not fatal",
    )
    p.add_argument(
        "--report-interval", type=float, default=5.0,
        help="seconds between [speed] progress lines (0 disables; reference "
        "speed_meter cadence)",
    )
    args = p.parse_args()

    import contextlib
    import signal

    from pyspark.sql import SparkSession

    from ocr_suite_spark import datagen
    from ocr_suite_spark.metrics import PeriodicReporter, SpeedMeter
    from ocr_suite_spark.progress import ProgressStore, extract_resumable
    from ocr_suite_spark.schema import DOCUMENTS

    spark = SparkSession.builder.appName("ocs-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if "testdata" in args.input:  # convenience: derive corpus from testdata
        docs = datagen.interleaved_from_documents(spark, args.input)
    else:
        docs = spark.read.schema(DOCUMENTS).parquet(args.input)

    # T5 graceful shutdown: SIGTERM/SIGINT finish the in-flight bucket
    # group (its output + progress commit), then stop — the next run
    # resumes from the committed groups. Second signal = default handling.
    stop_flag = {"stop": False}

    def _on_signal(signum, frame):
        if stop_flag["stop"]:
            signal.signal(signum, signal.SIG_DFL)
            os.kill(os.getpid(), signum)
        print(f"[shutdown] signal {signum}: finishing current bucket group", flush=True)
        stop_flag["stop"] = True

    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    meter = SpeedMeter(spark)
    reporter = (
        PeriodicReporter(meter, interval_s=args.report_interval)
        if args.report_interval > 0
        else contextlib.nullcontext()
    )
    t0 = time.time()
    with reporter:
        out = extract_resumable(
            spark,
            docs,
            out_dir=args.output,
            ckpt_dir=args.checkpoint,
            run_id=args.run_id,
            n_buckets=args.n_buckets,
            bucket_groups=args.bucket_groups,
            meter=meter,
            on_error=args.on_error,
            stop_requested=lambda: stop_flag["stop"],
        )
        n = out.count()
    wall = time.time() - t0
    done = len(ProgressStore(spark, args.checkpoint).done_ids(args.run_id))
    print(
        json.dumps(
            {
                "docs": n,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n / wall, 2),
                "buckets_done": done,
                "quarantined": meter.n_errors.value,
                "output": args.output,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
