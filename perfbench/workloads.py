"""One measured phase of a workload: a fresh Spark session, the workload's
set-up, a closed loop of timed steps, the correctness gates and, when
traced, the per-layer numbers only the live session can read.

Each phase runs in its own Python process (see run.py), so every phase
starts from a cold JVM and a cold Python worker pool, and a pinned phase
starts its JVM already pinned.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field

import check
import eventlog
import inputs
import probes

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_QUERIES = os.path.join(HERE, "expected_queries.json")

# extract_unique: documents per timed pass; warm-up documents per core (the
# warm-up runs each Python worker through the same amount of work at any
# core count); the corpus holds MAX_PASSES timed slices and the warm-up
# slice of the run's first phase
SLICE_DOCS = 1200
WARM_DOCS_PER_CORE = 25
MAX_PASSES = 4

# queries: input sizes (the testdata sf0.01 layout) and the number of
# input variants the seed picks from; expected_queries.json holds one
# digest per (variant, query)
QUERY_DOCS = 500
QUERY_EMBEDDINGS = 500
QUERY_LINEITEM = 60000
QUERY_VARIANTS = 8
QUERIES = [
    "q1_pricing_summary",
    "dedup_semdedup",
    "dsir_importance",
    "knn_self_join",
    "dedup_substring_spans",
    "curate_funnel_stages",
    "bpe_merge_learn",
]
LIKE = "like_search"

# the resumable extract job that writes the span table the LIKE search
# reads: its bucket layout, and how many media spans share one image
N_BUCKETS = 16
BUCKET_GROUPS = 2
REF_REUSE = 8
SAMPLE_REFS = 120


@dataclass
class Spec:
    """What the parent asks a phase process to do."""

    workload: str
    seed: int
    seconds: float  # 0: a single timed pass
    dir: str  # private working dir of this phase
    shared: str  # inputs and corpus, shared by the phases of one run
    cores: int
    traced: bool = False
    pin: list[int] | None = None
    record: bool = False  # queries: return digests instead of checking them


@dataclass
class Step:
    wall_s: float
    docs: int
    attempted: int = 0
    failed: int = 0
    traced: bool = False  # ran with the event-log listener attached
    extra: dict = field(default_factory=dict)


@dataclass
class PhaseResult:
    setup_s: float
    steps: list[Step]
    peak_rss_mb: float  # the JVM: driver and, in local mode, every executor
    worker_rss_mb: float  # the Python worker processes, summed
    problems: list[str]
    affinity: list[int]
    jvm_affinity: list[int]
    sample_refs: list[str]
    layers: dict = field(default_factory=dict)
    digests: dict = field(default_factory=dict)


def session(spec: Spec):
    from ocr_suite_spark.session import get_spark

    for sub in ("local", "warehouse", "jtmp", "eventlog"):
        os.makedirs(f"{spec.dir}/{sub}", exist_ok=True)
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{spec.dir}/local",
        "spark.sql.warehouse.dir": f"{spec.dir}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={spec.dir}/jtmp",
    }
    if spec.traced:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{spec.dir}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(cores=spec.cores, app=f"perfbench-{spec.workload}", driver_memory="2g", extra=extra)


def _attach_event_log(spark, on: bool) -> None:
    """Attach or detach the session's event-log listener, once every event
    so far has reached it. Spark does not check for a listener added twice,
    so only call this to change the listener's state."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    listener = sc.eventLogger().get()
    (sc.addSparkListener if on else sc.removeSparkListener)(listener)


def timed_passes(spark, spec: Spec, n_max: int, step, overhead: bool = False) -> list[Step]:
    """The phase's timed calls, step(0), step(1), ..., each started after
    the previous one ends.

    Untraced: until ``spec.seconds`` have passed (at least one call, at
    most n_max). Traced: one call with the event log attached (a traced
    session has it attached from the start), preceded, when ``overhead``
    asks for the tracing overhead, by one with it detached."""
    if spec.traced:
        out = []
        if overhead:
            _attach_event_log(spark, False)
            out.append(step(0))
            _attach_event_log(spark, True)
        out.append(step(len(out)))
        out[-1].traced = True
        return out
    t0 = time.perf_counter()
    out = []
    for i in range(n_max):
        out.append(step(i))
        if time.perf_counter() - t0 >= spec.seconds:
            break
    return out


def _group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def _doc_range(corpus, lo: int, n: int):
    from pyspark.sql import functions as F

    num = F.col("doc_id").cast("long")
    return corpus.where((num >= lo) & (num < lo + n))


def _spans_json(df) -> list:
    from pyspark.sql import functions as F

    return df.select("doc_id", F.to_json("spans").alias("j")).collect()


def _doc_start(seed: int) -> int:
    """The seed picks the doc-id offset, hence every media ref."""
    return (seed % 1_000_000) * 1_000_000


def _sample_refs(rows: list) -> list[str]:
    refs = sorted(
        {s["media_ref"] for _, j in rows for s in json.loads(j) if s["kind"] == "media"}
    )
    return refs[:SAMPLE_REFS]


def _meter_delta(meter, before) -> dict:
    now = meter.snapshot()
    return {
        "n_images": now.n_images - before.n_images,
        "kernel_core_s": (now.decode_s - before.decode_s) + (now.ocr_s - before.ocr_s),
    }


def _finish(spark, spec: Spec, t_setup: float, steps, problems, refs) -> PhaseResult:
    jvm = probes.java_pids()
    return PhaseResult(
        setup_s=t_setup,
        steps=steps,
        peak_rss_mb=probes.peak_rss_mb(jvm),
        worker_rss_mb=probes.peak_rss_mb([p for p in probes.descendants() if p not in jvm]),
        problems=problems,
        affinity=probes.cpus(),
        jvm_affinity=sorted(probes.cpus_allowed(jvm[0])) if jvm else [],
        sample_refs=refs,
    )


def _event_log(spec: Spec) -> dict[str, eventlog.GroupProfile]:
    d = f"{spec.dir}/eventlog"
    (name,) = os.listdir(d)
    return eventlog.parse(f"{d}/{name}")


def _extract_layers(p: eventlog.GroupProfile, kernel_core_s: float, slots: int) -> dict[str, float]:
    """Stage and UDF metrics of one extraction job group."""
    layer = eventlog.ocr_layer([p], slots)
    ocr = layer["stage.ocr.run_core_s"]
    layer.update(
        {
            "udf.python_run_core_s": p.total("py_run_s"),
            "udf.python_init_s": p.total("py_init_s"),
            "udf.bytes_to_python": p.total("bytes_to_py"),
            "udf.bytes_from_python": p.total("bytes_from_py"),
            "udf.kernel_core_s": kernel_core_s,
            "udf.overhead_core_s": ocr - kernel_core_s if ocr else 0.0,
            "spill_bytes": p.total("spill_bytes"),
            "gc_core_s": p.total("gc_s"),
        }
    )
    return layer


# --------------------------------------------------------------- extract_unique


def extract_unique(spec: Spec, t0: float) -> PhaseResult:
    """One-pass extraction: each timed pass runs operators.extract.extract()
    over its own doc-id slice, so every media ref is seen exactly once."""
    from ocr_suite_spark import datagen
    from ocr_suite_spark.metrics import SpeedMeter
    from ocr_suite_spark.operators import extract as X
    from pyspark.sql import functions as F

    start = _doc_start(spec.seed)
    timed_docs = MAX_PASSES * SLICE_DOCS
    docs_dir = f"{spec.shared}/docs"
    if not os.path.exists(docs_dir):
        n_warm = WARM_DOCS_PER_CORE * spec.cores
        inputs.write_documents(docs_dir, timed_docs + n_warm, spec.seed, start)
    spark = session(spec)
    # Every phase of a run reads the corpus its first (full-width) phase
    # materialized, so extract() sizes its salt partitions alike at every
    # core count. Timed slices come first; the warm-up slice follows them.
    corpus = datagen.materialized_corpus(spark, docs_dir, cache_root=f"{spec.shared}/corpus")
    slices = [_doc_range(corpus, start + timed_docs, WARM_DOCS_PER_CORE * spec.cores)] + [
        _doc_range(corpus, start + i * SLICE_DOCS, SLICE_DOCS) for i in range(MAX_PASSES)
    ]
    meter = SpeedMeter(spark)
    outputs = {}

    def run_pass(i: int, group: str) -> Step:
        _group(spark, group)
        before = meter.snapshot()
        errors = meter.n_errors.value
        t = time.perf_counter()
        rows = (
            X.extract(slices[i], meter=meter, on_error="quarantine")
            .select("doc_id", F.to_json("spans").alias("j"))
            .collect()
        )
        wall = time.perf_counter() - t
        outputs[i] = rows
        return Step(wall, len(rows), failed=meter.n_errors.value - errors, extra=_meter_delta(meter, before))

    run_pass(0, "warm")
    t_setup = time.perf_counter() - t0
    steps = timed_passes(
        spark, spec, MAX_PASSES, lambda i: run_pass(i + 1, f"pass.{i}"), overhead=True
    )
    _group(spark, "verify")

    problems, refs = [], []
    for i, st in enumerate(steps, start=1):
        want = _spans_json(slices[i])
        problems += check.check_extraction(want, outputs[i])
        st.attempted = sum(check.media_count(j) for _, j in want)
        st.extra["media"] = st.attempted
        refs = refs or _sample_refs(want)
    res = _finish(spark, spec, t_setup, steps, problems, refs)
    spark.stop()
    if spec.traced:
        i, st = len(steps) - 1, steps[-1]  # the traced pass comes last
        res.layers = _extract_layers(_event_log(spec)[f"pass.{i}"], st.extra["kernel_core_s"], spec.cores)
        res.layers["memo.fresh_frac"] = st.extra["n_images"] / max(st.extra["media"], 1)
    return res


def like_pattern(variant: int) -> str:
    import numpy as np
    from ocr_suite_spark.datagen import MEDIA_WORDS

    word = MEDIA_WORDS[int(np.random.default_rng([variant, 5]).integers(0, len(MEDIA_WORDS)))]
    return word[:3] + "%"


def _time_calls(cls, name: str, sink: list) -> None:
    """Wrap a public method so each call's wall time lands in ``sink``."""
    orig = getattr(cls, name)

    def timed(*args, **kwargs):
        t = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            sink.append(time.perf_counter() - t)

    setattr(cls, name, timed)


def _pooled_input(spark, spec: Spec, corpus, seed: int):
    """The extract job's input: ``corpus`` with its media refs drawn from a
    pool, written as a table. Returns the table and its media span count."""
    from ocr_suite_spark import tableio
    from pyspark.sql import functions as F

    n_media = corpus.select(
        F.sum(F.size(F.filter("spans", lambda s: s["kind"] == "media")))
    ).first()[0]
    pool = inputs.ref_pool(max(n_media // REF_REUSE, 1), seed)
    tableio.write_table(inputs.with_pooled_refs(corpus, pool, seed), f"{spec.dir}/pooled")
    return tableio.read_table(spark, f"{spec.dir}/pooled"), n_media


def _progress_walls(spark, ckpt: str) -> list[float]:
    """One wall time per committed bucket group, from the progress table."""
    from ocr_suite_spark.progress import ProgressStore
    from pyspark.sql import functions as F

    rows = (
        ProgressStore(spark, ckpt)
        .read()
        .where(F.col("run_id") == "bench")
        .select("wall_secs", "updated_at")
        .distinct()
        .collect()
    )
    return [r["wall_secs"] for r in rows]


def _job_layers(job: dict, walls: list[float], n_docs: int, profiles: dict) -> dict[str, float]:
    files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(job["out_dir"])
        for f in fs
        if f.endswith(".parquet")
    ]
    run, noop = profiles["job.run"].summary(), profiles["job.noop"].summary()
    return {
        "progress.docs_per_s": n_docs / job["wall_s"],
        "progress.groups": len(walls),
        "progress.group_wall_s.median": statistics.median(walls),
        "progress.group_wall_s.max": max(walls),
        "progress.jobs": run["jobs"],
        "progress.tasks": run["tasks"],
        "progress.noop.jobs": noop["jobs"],
        "progress.noop.tasks": noop["tasks"],
        "progress.append_s": job["append_s"],
        "lock.acquire_s": job["acquire_s"],
        "tableio.output_files": len(files),
        "tableio.output_bytes_per_doc": sum(os.path.getsize(f) for f in files) / n_docs,
        "memo.fresh_frac": job["n_images"] / max(job["media"], 1),
        "resume_noop_s": job["noop_s"],
    }


def queries(spec: Spec, t0: float) -> PhaseResult:
    """The jobs/extract_job.py path and the downstream queries behind it.

    Set-up generates an sf0.01-sized table set and writes its corpus with
    pooled media refs. The one timed pass, run cold, then calls
    progress.extract_resumable into fresh output and checkpoint dirs, the
    same call again (every bucket done: the no-op resume), the seven
    registry queries and the LIKE search over the spans the job wrote."""
    from ocr_suite_spark import datagen, lock, tableio
    from ocr_suite_spark.metrics import SpeedMeter
    from ocr_suite_spark.progress import ProgressStore, extract_resumable
    from ocr_suite_spark.queries import REGISTRY
    from ocr_suite_spark.queries.extraction import like_search
    from pyspark.sql import functions as F

    variant = spec.seed % QUERY_VARIANTS
    sf = f"{spec.shared}/sf"
    if not os.path.exists(sf):
        inputs.write_documents(sf, QUERY_DOCS, variant)
        inputs.write_embeddings(sf, QUERY_EMBEDDINGS, variant)
        inputs.write_lineitem(sf, QUERY_LINEITEM, variant)
    spark = session(spec)
    corpus = datagen.materialized_corpus(spark, sf, cache_root=f"{spec.shared}/corpus")
    docs, n_media = _pooled_input(spark, spec, corpus, variant)
    out_dir, ckpt = f"{spec.dir}/spans", f"{spec.dir}/ckpt"
    meter = SpeedMeter(spark)
    appends: list[float] = []
    acquires: list[float] = []
    if spec.traced:
        _time_calls(ProgressStore, "append", appends)
        _time_calls(lock.SingleInstanceLock, "__enter__", acquires)
    pattern = like_pattern(variant)
    calls = {name: (lambda fn=REGISTRY[name][0]: fn(spark, sf)) for name in QUERIES}
    expected = {} if spec.record else _expected(variant)
    digests: dict[str, list] = {}
    problems: list[str] = []
    job: dict = {"out_dir": out_dir, "media": n_media}

    def resumable(group: str) -> float:
        _group(spark, group)
        t = time.perf_counter()
        extract_resumable(
            spark, docs, out_dir, ckpt, run_id="bench", n_buckets=N_BUCKETS,
            bucket_groups=BUCKET_GROUPS, meter=meter, on_error="quarantine",
        )
        return time.perf_counter() - t

    def run_pass(i: int) -> Step:
        t_pass = time.perf_counter()
        job["wall_s"] = resumable("job.run")
        snap = meter.snapshot()
        job.update(
            n_images=snap.n_images,
            kernel_core_s=snap.decode_s + snap.ocr_s,
            append_s=sum(appends),
            acquire_s=sum(acquires),
        )
        job["noop_s"] = resumable("job.noop")
        flat = tableio.read_table(spark, out_dir).select("doc_id", F.explode("spans").alias("s"))
        flat = flat.select("doc_id", "s.kind", "s.text", "s.media_ref", "s.order")
        walls, failed = {}, 0
        for name, call in [*calls.items(), (LIKE, lambda: like_search(flat, pattern))]:
            _group(spark, f"q.{name}")
            t = time.perf_counter()
            try:
                rows = call().collect()
            except Exception as e:  # a failing query is counted, the pass goes on
                walls[name] = time.perf_counter() - t
                failed += 1
                problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            walls[name] = time.perf_counter() - t
            digests[name] = check.result_digest(rows)
            if not spec.record and digests[name] != expected.get(name):
                problems.append(f"{name}: digest {digests[name]} != {expected.get(name)}")
        # attempted: the job's media spans and the queries; failed: the
        # spans it quarantined and the queries that raised
        return Step(
            time.perf_counter() - t_pass, QUERY_DOCS, n_media + len(walls),
            meter.n_errors.value + failed,
            extra={"walls": walls, "job_s": [job["wall_s"], job["noop_s"]]},
        )

    t_setup = time.perf_counter() - t0
    (st,) = timed_passes(spark, spec, 1, run_pass)
    _group(spark, "verify")

    want = _spans_json(docs)
    problems += check.check_extraction(want, _spans_json(tableio.read_table(spark, out_dir)))
    res = _finish(spark, spec, t_setup, [st], problems, _sample_refs(want))
    res.digests = digests
    walls = _progress_walls(spark, ckpt) if spec.traced else []
    spark.stop()
    if spec.traced:
        profiles = _event_log(spec)
        for name, wall in st.extra["walls"].items():
            s = profiles.get(f"q.{name}", eventlog.GroupProfile()).summary()
            res.layers.update(
                {
                    f"q.{name}.s": wall,
                    f"q.{name}.jobs": s["jobs"],
                    f"q.{name}.tasks": s["tasks"],
                    f"q.{name}.cpu_core_s": s["cpu_core_s"],
                    f"q.{name}.shuffle_bytes": s["shuffle_write_bytes"],
                    f"q.{name}.spill_bytes": s["spill_bytes"],
                }
            )
        res.layers["queries_total_s"] = sum(st.extra["walls"].values())
        res.layers.update(_job_layers(job, walls, QUERY_DOCS, profiles))
        # the UDF and stage layers of the resumable job's commit path
        res.layers.update(_extract_layers(profiles["job.run"], job["kernel_core_s"], spec.cores))
    return res


def _expected(variant: int) -> dict:
    with open(EXPECTED_QUERIES) as f:
        return json.load(f)["digests"][str(variant)]


WORKLOADS = {"extract_unique": extract_unique, "queries": queries}


def _stop_jvm() -> None:
    """Shut down the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run_phase(spec: Spec, t0: float) -> dict:
    if spec.pin:
        probes.pin(set(spec.pin))
    try:
        res = WORKLOADS[spec.workload](spec, t0)
    finally:
        _stop_jvm()
    if spec.pin and set(res.jvm_affinity) != set(spec.pin):
        raise RuntimeError(f"JVM affinity {res.jvm_affinity} != requested {spec.pin}")
    return asdict(res)
