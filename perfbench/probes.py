"""Spark-free probes: host identity, the hardware control, the kernel
microbench and process memory read from /proc."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

import numpy as np

# Fixed control workload: the same refs on every run and every commit.
_CONTROL_WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"]
_CONTROL_IMAGES = 60


def cpus() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def host_identity() -> dict:
    model = "unknown"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpu_model": model, "affinity": cpus(), "loadavg": load}


def pin(cpu_set: set[int]) -> None:
    """Pin this process to exactly ``cpu_set`` or raise."""
    os.sched_setaffinity(0, cpu_set)
    got = os.sched_getaffinity(0)
    if got != cpu_set:
        raise RuntimeError(f"affinity is {sorted(got)} after pinning to {sorted(cpu_set)}")


def _control_refs(k: int) -> list[str]:
    from ocr_suite_spark.kernels.render import make_media_ref

    refs = []
    for i in range(_CONTROL_IMAGES):
        ws = [_CONTROL_WORDS[(k + i + j) % 7] for j in range(2 + (k + i) % 3)]
        refs.append(make_media_ref(ws, (-8, -4, 0, 2, 6)[(k + i) % 5], (k * 1000 + i) % 100000))
    return refs


def _control_worker(cpu: int, k: int) -> float:
    pin({cpu})
    from ocr_suite_spark.kernels import render
    from ocr_suite_spark.kernels.ocr import Recognizer

    eng = Recognizer()
    refs = _control_refs(k)
    eng.recognize(render.decode_image(render.resolve_media(refs[0])))
    t0 = time.perf_counter()
    for ref in refs:
        eng.recognize(render.decode_image(render.resolve_media(ref)))
    return (time.perf_counter() - t0) / len(refs) * 1e3


def hw_control_ms(n_procs: int) -> float:
    """Median per-image render+recognize ms over ``n_procs`` plain Python
    processes, each pinned to its own CPU of this process's affinity set.

    The workers are plain subprocesses (``python3 probes.py <cpu> <k>``),
    not multiprocessing ones, so no resource-tracker process is left to
    outlive the benchmark."""
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(cpu), str(k)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for k, cpu in enumerate(cpus()[:n_procs])
    ]
    try:
        per = []
        for p in procs:
            out, _ = p.communicate(timeout=120)
            if p.returncode != 0:
                raise RuntimeError(f"hardware control worker exited with {p.returncode}")
            per.append(float(out.split()[-1]))
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    return statistics.median(per)


def kernel_microbench(refs: list[str], rounds: int = 3) -> dict[str, float]:
    """ms/img for each kernel stage over ``refs``, median over rounds."""
    from ocr_suite_spark.kernels import ocr, render

    eng = ocr.Recognizer()
    stages = ("resolve", "decode", "otsu", "skew", "recognize")
    per_round: dict[str, list[float]] = {s: [] for s in stages}
    for _ in range(rounds):
        acc = dict.fromkeys(stages, 0.0)
        for ref in refs:
            t0 = time.perf_counter()
            data = render.resolve_media(ref)
            t1 = time.perf_counter()
            img = render.decode_image(data)
            t2 = time.perf_counter()
            thresh, _ = ocr.otsu_stats(img)
            t3 = time.perf_counter()
            mask = img <= thresh
            ocr.estimate_skew(mask, ink=np.nonzero(mask))
            t4 = time.perf_counter()
            eng.recognize(img)
            t5 = time.perf_counter()
            for s, d in zip(stages, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
                acc[s] += d
        for s in stages:
            per_round[s].append(acc[s] / len(refs) * 1e3)
    ms = {s: statistics.median(v) for s, v in per_round.items()}
    return {
        "render.resolve_ms": ms["resolve"],
        "render.decode_ms": ms["decode"],
        "ocr.otsu_ms": ms["otsu"],
        "ocr.skew_ms": ms["skew"],
        "ocr.recognize_ms": ms["recognize"],
        "ocr.segment_match_ms": ms["recognize"] - ms["otsu"] - ms["skew"],
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # comm may hold spaces; the ppid follows the closing paren
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    """Every process below this one."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status(pid: int, key: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        return None
    return None


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    kb = 0
    for p in pids:
        v = _status(p, "VmHWM")
        if v:
            kb += int(v.split()[0])
    return kb / 1024


def java_pids() -> list[int]:
    out = []
    for p in descendants():
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    out.append(p)
        except OSError:
            continue
    return out


def cpus_allowed(pid: int) -> set[int]:
    """The affinity set of another process, from /proc."""
    text = _status(pid, "Cpus_allowed_list") or ""
    out: set[int] = set()
    for part in text.split(","):
        if "-" in part:
            a, b = part.split("-")
            out.update(range(int(a), int(b) + 1))
        elif part:
            out.add(int(part))
    return out


if __name__ == "__main__":
    # one hardware-control worker: python3 probes.py <cpu> <k>
    print(_control_worker(int(sys.argv[1]), int(sys.argv[2])))
