"""Shared pieces of the benchmark: ops, the closed-loop runner, statistics
and the driver-side probes (RSS, load average, directory sizes)."""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Optional


@dataclass(frozen=True)
class Op:
    """One operation of a workload, pure data. ``kind`` names what runs,
    ``group`` the end-to-end latency family it belongs to and ``params``
    the generated inputs, as a sorted tuple of (name, value) pairs."""

    kind: str
    group: str
    params: tuple

    @property
    def p(self) -> dict:
        return dict(self.params)


def op(kind: str, group: str, **params) -> Op:
    return Op(kind, group, tuple(sorted(params.items())))


class Workload:
    """What the runner needs from a workload. A subclass sets ``name``,
    ``kinds`` and maybe ``warm_cycles``, and implements ``op_list``,
    ``setup``, ``execute``, ``sizes`` and ``tables``; it may define
    ``final_check(state)``, run once after the loop and counted as one
    more op."""

    name = ""
    kinds: list = []
    final_check = None
    # cycles of the op stream run untimed before the loop
    warm_cycles = 1

    def __init__(self, spark, work: str, scale: float):
        self.spark, self.work, self.scale = spark, work, scale

    def prepare(self, st) -> None:
        """Reference answers for a set-up's state, computed outside the
        timed set-ups."""

    def teardown(self, st) -> None:
        shutil.rmtree(st["root"], ignore_errors=True)

    def derived(self, st, results) -> dict:
        """Metrics computed from the loop's results."""
        return {}


class WrongResult(Exception):
    """An op returned an answer that differs from the expected one."""


def expect(got, want, what: str) -> None:
    if got == want:
        return
    if isinstance(got, (set, dict)) and isinstance(want, (set, dict)):
        g = set(got.items()) if isinstance(got, dict) else got
        w = set(want.items()) if isinstance(want, dict) else want
        raise WrongResult(f"{what}: {len(got)} items, expected {len(want)}; "
                          f"unexpected {sorted(g - w)[:5]}, missing {sorted(w - g)[:5]}")
    raise WrongResult(f"{what}: got {str(got)[:300]}, expected {str(want)[:300]}")


@dataclass
class OpResult:
    kind: str
    group: str
    traced: bool
    latency_s: float
    ok: bool
    # sub-step latencies recorded by the op, keyed by latency group
    parts: dict = field(default_factory=dict)
    error: Optional[str] = None


class Timer:
    """Sub-step clock handed to an op: ``with timer.part("write"):``."""

    def __init__(self):
        self.parts: dict[str, list[float]] = {}

    @contextlib.contextmanager
    def part(self, group: str):
        t0 = time.perf_counter()
        yield
        self.parts.setdefault(group, []).append(time.perf_counter() - t0)


def run_op(workload, state, o: Op, tracer) -> OpResult:
    """Run one op and check its answer. A raise or a wrong answer is a
    failure; it is recorded, never retried."""
    timer = Timer()
    err = None
    t0 = time.perf_counter()
    try:
        with tracer.span("op." + o.kind):
            workload.execute(state, o, timer, tracer)
        ok = True
    except WrongResult as e:
        ok, err = False, f"wrong result: {e}"
    except Exception:  # noqa: BLE001 - the loop must go on and count it
        ok, err = False, traceback.format_exc(limit=8)
    dt = time.perf_counter() - t0
    if err:
        print(f"[perfbench] op {o.kind} failed: {err}", file=sys.stderr)
    return OpResult(o.kind, o.group, tracer.enabled, dt, ok,
                    timer.parts, err)


def run_loop(workload, state, cycles: list[list[Op]], seconds: float,
             tracer, trace: bool) -> tuple[list[OpResult], dict]:
    """Closed loop, one client: each op starts when the previous returns.
    Whole cycles run, so every run sees the same mix of op kinds. A new
    cycle starts only while the loop is expected to end within half a
    cycle of ``seconds``; at least one cycle runs.

    With ``trace``, ops alternate between traced and untraced, and the
    pattern swaps every cycle over an even number of cycles (at least
    two), so both halves run every op kind equally often at the same
    points of the loop; their rates give the tracing overhead."""
    results: list[OpResult] = []
    busy = {True: 0.0, False: 0.0}
    cycle_walls: list[float] = []
    t_start = time.perf_counter()
    done = 0
    step = 2 if trace else 1
    for ci, cycle in enumerate(cycles):
        elapsed = time.perf_counter() - t_start
        if done >= step and done % step == 0 and elapsed + 0.5 * elapsed / done > seconds:
            break
        c0 = time.perf_counter()
        for i, o in enumerate(cycle):
            tracer.enabled = trace and (i + ci) % 2 == 0
            tracer.op_id = len(results)
            r = run_op(workload, state, o, tracer)
            results.append(r)
            busy[r.traced] += r.latency_s
        cycle_walls.append(time.perf_counter() - c0)
        done += 1
    tracer.enabled = False
    return results, {"loop_wall_s": time.perf_counter() - t_start,
                     "cycles": done, "cycles_wall_s": sum(cycle_walls),
                     "cycle_walls_s": cycle_walls,
                     "traced_busy_s": busy[True], "untraced_busy_s": busy[False]}


# -- statistics --------------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# -- driver-side probes ------------------------------------------------------

def rss_mib() -> float:
    """Current VmRSS of this process in MiB."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class RssSampler:
    """Peak driver RSS over an interval, sampled every ``period`` seconds
    on a helper thread (the driver thread mostly waits on the JVM, with
    the interpreter lock released)."""

    def __init__(self, period: float = 0.02):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def __enter__(self) -> "RssSampler":
        self.peak = rss_mib()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, rss_mib())

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_mib())


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_ticks() -> list[int]:
    """The host's CPU tick counters (user, nice, system, idle, iowait,
    irq, softirq, steal), summed over CPUs."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """How the host's CPU time was spent between two ``cpu_ticks``:
    busy (user, system, interrupts), idle, iowait, and steal (taken by
    other guests of the same host)."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    return {"busy": round((d[0] + d[1] + d[2] + d[5] + d[6]) / total, 4),
            "idle": round(d[3] / total, 4), "iowait": round(d[4] / total, 4),
            "steal": round(d[7] / total, 4)}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total
