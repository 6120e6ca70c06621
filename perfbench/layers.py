"""Turn phase results into the metrics the benchmark prints."""

from __future__ import annotations

import statistics

import probes
import workloads

QUERY_NAMES = workloads.QUERIES + [workloads.LIKE]
_QUERY_FIELDS = ("s", "jobs", "tasks", "cpu_core_s", "shuffle_bytes", "spill_bytes")

END_TO_END = {"setup_s": "s", "docs_per_s": "1/s"}

PER_LAYER = {
    # kernels.render / kernels.ocr: driver-side microbench, no Spark
    "render.resolve_ms": "ms",
    "render.decode_ms": "ms",
    "ocr.otsu_ms": "ms",
    "ocr.skew_ms": "ms",
    "ocr.recognize_ms": "ms",
    "ocr.segment_match_ms": "ms",
    # operators.extract (the mapInPandas UDF): event log + SpeedMeter
    "udf.python_run_core_s": "s",
    "udf.python_init_s": "s",
    "udf.bytes_to_python": "B",
    "udf.bytes_from_python": "B",
    "udf.kernel_core_s": "s",
    "udf.overhead_core_s": "s",
    "udf.worker_peak_rss_mb": "MiB",
    # peak resident memory of the Spark JVM (driver and local executors)
    "jvm_peak_rss_mb": "MiB",
    # Spark stages of the extraction job
    "stage.ocr.tasks": "count",
    "stage.ocr.run_core_s": "s",
    "stage.ocr.slot_util": "ratio",
    "stage.ocr.task_skew": "ratio",
    "stage.salt_exchange.shuffle_bytes": "B",
    "stage.merge.run_core_s": "s",
    "stage.merge.shuffle_bytes": "B",
    "spill_bytes": "B",
    "gc_core_s": "s",
    # operators.memo
    "memo.fresh_frac": "ratio",
    # progress, lock, tableio: the resumable extract job of the queries pass
    "progress.docs_per_s": "1/s",
    "progress.groups": "count",
    "progress.group_wall_s.median": "s",
    "progress.group_wall_s.max": "s",
    "progress.jobs": "count",
    "progress.tasks": "count",
    "progress.noop.jobs": "count",
    "progress.noop.tasks": "count",
    "progress.append_s": "s",
    "lock.acquire_s": "s",
    "tableio.output_files": "count",
    "tableio.output_bytes_per_doc": "B",
    # queries.*
    **{
        f"q.{q}.{f}": {"s": "s", "cpu_core_s": "s", "jobs": "count", "tasks": "count"}.get(f, "B")
        for q in QUERY_NAMES
        for f in _QUERY_FIELDS
    },
    # scaling (from the phase pinned to one CPU), the no-op resume and the
    # query pass as a whole
    "docs_per_s_1cpu": "1/s",
    "scaling_eff": "ratio",
    "resume_noop_s": "s",
    "queries_total_s": "s",
    # host and tracing
    "hw_control_ms_1": "ms",
    "hw_control_ms_all": "ms",
    "trace_overhead_frac": "ratio",
}


def _walls(phase: dict, traced: bool = False) -> list[float]:
    return [s["wall_s"] for s in phase["steps"] if s["traced"] == traced]


def _docs_per_s(phase: dict) -> float:
    """Median over the phase's untraced timed calls."""
    return statistics.median(s["docs"] / s["wall_s"] for s in phase["steps"] if not s["traced"])


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(plain: dict) -> dict:
    values = {
        "setup_s": plain["setup_s"],
        "docs_per_s": _docs_per_s(plain),
    }
    return {k: _metric(v, END_TO_END[k]) for k, v in values.items()}


def per_layer(traced: dict, one_cpu: dict | None = None, cores: int = 0) -> dict:
    """Every PER_LAYER metric; a layer the workload does not exercise reads
    0. The hardware control is added by the caller."""
    values = dict.fromkeys(PER_LAYER, 0.0)
    values.update(traced["layers"])
    values.update(probes.kernel_microbench(traced["sample_refs"]))
    values["jvm_peak_rss_mb"] = traced["peak_rss_mb"]
    values["udf.worker_peak_rss_mb"] = traced["worker_rss_mb"]
    if _walls(traced):  # the phase timed an untraced call as well
        values["trace_overhead_frac"] = (
            statistics.median(_walls(traced, True)) / statistics.median(_walls(traced)) - 1
        )
    if one_cpu is not None:
        values["docs_per_s_1cpu"] = _docs_per_s(one_cpu)
        values["scaling_eff"] = _docs_per_s(traced) / (cores * values["docs_per_s_1cpu"])
    unknown = set(values) - set(PER_LAYER) - {"hw_control_ms_1", "hw_control_ms_all"}
    if unknown:
        raise KeyError(f"metrics missing from PER_LAYER: {sorted(unknown)}")
    return {k: _metric(v, PER_LAYER[k]) for k, v in values.items()}
