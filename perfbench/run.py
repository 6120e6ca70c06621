#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see BENCHMARK.json for why each
exists): ``extract_unique`` and ``queries``.

Each run measures one workload in a fresh process (its "phase"): Spark
runs as ``local[k]`` with k = the size of this process's CPU affinity set,
driven by one client that starts each timed call after the previous one
ends. The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (set-up time and
documents/s). With ``--trace 1`` the phase runs with Spark's event log on
(extract_unique also times one pass with the log detached, for the tracing
overhead, and adds a phase pinned to one CPU), and the metrics are the
per-layer ones, read from the event log, the package's SpeedMeter and
progress table, a Spark-free kernel microbench and the hardware control.
The line before the result describes the host.

``--record-queries`` rewrites expected_queries.json from the current code.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# a run must end within 180 s; phases get what is left of this, less the
# closing hardware control
RUN_BUDGET_S = 170
HW_CONTROL_RESERVE_S = 8


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


if not os.path.isfile(os.path.join(REPO, "ocr_suite_spark", "__init__.py")):
    _fail(f"no ocr_suite_spark package next to {HERE}; run from a full checkout")
sys.path[:0] = [HERE, REPO]
# the Spark JVM and its Python workers inherit this
os.environ["PYTHONPATH"] = os.pathsep.join(
    [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

import layers  # noqa: E402
import probes  # noqa: E402
import workloads  # noqa: E402


PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Have every orphaned descendant re-parented to this process. The
    PySpark daemon moves into a process group of its own and outlives its
    JVM for a moment; as a subreaper this process sees it in
    ``probes.descendants()`` and can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_descendants(timeout: float = 30) -> None:
    """SIGKILL every process below this one and wait until each has ended.
    Call it only once every Popen of this process has been waited for."""
    deadline = time.monotonic() + timeout
    while pids := probes.descendants():
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} outlived SIGKILL")
        time.sleep(0.05)


def _exit_on_signal(signum, _frame) -> None:
    # turns SIGTERM into SystemExit so the finally blocks reap and clean up
    sys.exit(128 + signum)


def _time_left() -> float:
    return RUN_BUDGET_S - HW_CONTROL_RESERVE_S - (time.perf_counter() - T_START)


def run_phase_process(spec: workloads.Spec, timeout: float) -> dict:
    """Run one phase in a fresh Python process (its own session) and return
    its result; its JVM and Python workers are reaped before this returns."""
    os.makedirs(spec.dir, exist_ok=True)
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--phase", json.dumps(spec.__dict__)],
        stdout=subprocess.PIPE,
        env=dict(os.environ, TMPDIR=spec.dir),
        text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=max(timeout, 1))
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        reap_descendants()
    if proc.returncode != 0:
        raise RuntimeError(f"{spec.workload} phase exited with {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def hw_control() -> dict[str, float]:
    return {
        "hw_control_ms_1": probes.hw_control_ms(1),
        "hw_control_ms_all": probes.hw_control_ms(len(probes.cpus())),
    }


def measure(args, tmp: str) -> dict:
    cpus = probes.cpus()

    def spec(name: str, **kw) -> workloads.Spec:
        # the phases of a traced run time fixed passes, to fit in one run
        kw.setdefault("cores", len(cpus))
        kw.setdefault("seconds", 0 if args.trace else args.seconds)
        return workloads.Spec(
            args.workload, args.seed, dir=f"{tmp}/{name}", shared=f"{tmp}/shared", **kw
        )

    def run(name: str, **kw) -> dict:
        return run_phase_process(spec(name, **kw), _time_left())

    if not args.trace:
        plain = run("plain")
        phases = [plain]
        metrics = layers.end_to_end(plain)
    else:
        traced = run("traced", traced=True)
        phases = [traced]
        one_cpu = None
        if args.workload == "extract_unique":
            # reads the corpus the traced phase materialized; the phase
            # asserts that it and its JVM run on exactly this CPU
            one_cpu = run("one_cpu", cores=1, pin=cpus[:1])
            phases.append(one_cpu)
        metrics = layers.per_layer(traced, one_cpu, len(cpus))
    problems = [p for ph in phases for p in ph["problems"]]
    for p in problems[:20]:
        print(f"perfbench: incorrect: {p}", file=sys.stderr)
    return {
        "correct": not problems,
        "attempted": sum(s["attempted"] for ph in phases for s in ph["steps"]),
        "failed": sum(s["failed"] for ph in phases for s in ph["steps"]),
        "metrics": metrics,
        "_phases": phases,
    }


def record_queries(tmp: str) -> None:
    digests = {}
    for v in range(workloads.QUERY_VARIANTS):
        res = run_phase_process(
            workloads.Spec(
                "queries", v, 0, f"{tmp}/v{v}", f"{tmp}/v{v}/shared", len(probes.cpus()), record=True
            ),
            RUN_BUDGET_S,
        )
        if res["problems"]:
            raise RuntimeError(res["problems"])
        digests[str(v)] = res["digests"]
        print(f"variant {v}: {res['digests']}", file=sys.stderr)
    with open(workloads.EXPECTED_QUERIES, "w") as f:
        json.dump({"variants": workloads.QUERY_VARIANTS, "digests": digests}, f, indent=1)
        f.write("\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--phase", help=argparse.SUPPRESS)
    ap.add_argument("--record-queries", action="store_true")
    args = ap.parse_args()

    if args.phase:
        spec = workloads.Spec(**json.loads(args.phase))
        print(json.dumps(workloads.run_phase(spec, T_START)))
        return

    _become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    os.makedirs(os.path.join(REPO, ".bench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(REPO, ".bench_tmp"))
    # keep every temp file of this process, its phases and their JVMs in
    # the checkout; -UsePerfData stops each JVM writing /tmp/hsperfdata_*
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(
            None,
            [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"],
        )
    )
    try:
        if args.record_queries:
            record_queries(tmp)
            return
        if not args.workload:
            ap.error("--workload is required")
        host = probes.host_identity()
        hw_before = hw_control()
        result = measure(args, tmp)
        hw_after = hw_control()
    finally:
        reap_descendants()
        shutil.rmtree(tmp, ignore_errors=True)

    phases = result.pop("_phases")
    hw = {k: statistics.mean([hw_before[k], hw_after[k]]) for k in hw_before}
    if args.trace:
        result["metrics"].update({k: {"value": v, "unit": "ms"} for k, v in hw.items()})
    host.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        hw_control_before=hw_before,
        hw_control_after=hw_after,
        setup_s=[ph["setup_s"] for ph in phases],
        step_walls_s=[[s["wall_s"] for s in ph["steps"]] for ph in phases],
        # queries: the wall of each query and of the resumable job's run
        # and no-op resume
        step_extra=[[s["extra"] for s in ph["steps"]] for ph in phases],
    )
    print(json.dumps({"host": host}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
