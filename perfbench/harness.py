"""Benchmark bookkeeping shared by the workloads: timed ops, correctness
checks, the phase clock, storage sampling and the peak-RSS sampler."""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from typing import Any, Optional

import numpy as np

# op kind → class used to group the Spark engine counters
OP_CLASS = {
    "append": "write", "merge_cow": "write", "merge_mor": "write",
    "commit": "write", "delete_commit": "write",
    "compact": "maintain", "cluster": "maintain", "expire": "maintain",
    "gc": "maintain", "materialize": "maintain",
    "rewrite_manifests": "maintain",
    "lookup": "read", "full_scan": "read", "plan": "read",
    "count_rows": "read",
    "transcode": "augment", "speed_perturb": "augment", "reverb": "augment",
    "pitch_shift": "augment", "dup_pairs": "augment",
}


def host_probe_ms() -> float:
    """Wall time of a fixed pure-Python loop: a record of how fast the
    host ran this run, independent of the program."""
    t0 = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i
    return (time.perf_counter() - t0) * 1000


def pct(values, q: float) -> float:
    """Percentile with linear interpolation; 0 for no values."""
    return float(np.percentile(values, q)) if len(values) else 0.0


class OpFailed(Exception):
    """An op raised; the workload's table state is no longer trusted."""


class Bench:
    def __init__(self, spark, work: str, seed: int, tracer=None) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.ops: list[dict[str, Any]] = []
        self.checks: list[dict[str, Any]] = []
        self.cycles = 0
        self.amp_samples: list[float] = []
        self.bytes_written = 0
        self._seen: dict[str, set[str]] = {}  # table root → files counted
        self._untimed = 0.0
        self.phase_t0 = 0.0
        self.phase_s = 0.0

    # --- phase clock: op time plus loop overhead, minus checks -------------

    def start_phase(self) -> None:
        self._untimed = 0.0
        self.phase_t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.phase_t0 - self._untimed

    def end_phase(self) -> None:
        self.phase_s = self.elapsed()

    @contextmanager
    def untimed(self):
        """Checks and bookkeeping between ops: excluded from the phase."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._untimed += time.perf_counter() - t0

    # --- ops and checks ----------------------------------------------------

    @contextmanager
    def op(self, kind: str, **attrs):
        rec: dict[str, Any] = {
            "id": len(self.ops), "kind": kind, "ok": True, **attrs,
        }
        self.ops.append(rec)
        sid = self.tracer.begin_op(rec["id"], kind) if self.tracer else None
        rec["start_ms"] = time.time() * 1000
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception as e:
            rec["ok"] = False
            print(f"op {kind} #{rec['id']} failed:", file=sys.stderr)
            traceback.print_exc()
            raise OpFailed(kind) from e
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000
            if self.tracer:
                self.tracer.end_op(sid)

    def check(self, name: str, ok: bool, detail: Any = "",
              op: Optional[dict] = None) -> bool:
        self.checks.append({"name": name, "ok": bool(ok), "detail": str(detail)})
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
            if op is not None:
                op["ok"] = False
        return bool(ok)

    # --- storage: bytes written, bytes stored per live byte ----------------

    def sample_storage(self, root: str, live_bytes: int) -> None:
        seen = self._seen.setdefault(root, set())
        total = 0
        for dp, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(dp, fn)
                try:
                    size = os.path.getsize(p)
                except FileNotFoundError:
                    continue
                total += size
                if p not in seen:
                    seen.add(p)
                    self.bytes_written += size
        if live_bytes > 0:
            self.amp_samples.append(total / live_bytes)

    def forget_storage(self, root: str) -> None:
        """Drop the seen-file index of a deleted table root."""
        self._seen.pop(root, None)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Resident set of a process and all its descendants (driver, JVM,
    Python workers), in MB."""
    pids, frontier = [root_pid], [root_pid]
    parent_of: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        parent_of.setdefault(ppid, []).append(int(name))
    while frontier:
        nxt = []
        for p in frontier:
            nxt.extend(parent_of.get(p, []))
        pids.extend(nxt)
        frontier = nxt
    return sum(_rss_kb(p) for p in pids) / 1024.0


class RssSampler:
    """Background thread polling the process tree's resident set."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
