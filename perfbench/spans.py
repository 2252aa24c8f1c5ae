"""Span recorder and timing shims for the traced benchmark run.

The shims wrap public functions of the ``lakehouse`` layers from outside:
each target is patched on its defining module AND on every ``lakehouse.*``
module that bound the same function object through ``from ... import``,
and every patch is undone by :meth:`Tracer.uninstall`. A shim passes its
arguments and result through unchanged; it only records a span (name,
start, end, parent span, workload op id) plus a few counts read off the
arguments or the result.

Spans are recorded only while a benchmark op is open, so bookkeeping and
correctness checks that call the same functions between ops stay out of
the per-layer numbers.
"""

from __future__ import annotations

import functools
import importlib
import json
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    op: Optional[int] = None
    attrs: dict[str, Any] = field(default_factory=dict)


def _n(x) -> int:
    return len(x) if hasattr(x, "__len__") else 0


# (module, function, measure(args, kwargs, result) -> attrs)
TARGETS: list[tuple[str, str, Optional[Callable]]] = [
    ("lakehouse.meta.snapshots", "commit", None),
    ("lakehouse.meta.snapshots", "load_metadata", None),
    ("lakehouse.meta.snapshots", "read_manifest_list", None),
    ("lakehouse.meta.snapshots", "write_manifest_list", None),
    ("lakehouse.meta.manifests", "read_manifest",
     lambda a, k, r: {"entries": _n(r)}),
    ("lakehouse.meta.manifests", "write_manifest",
     lambda a, k, r: {"entries": (r[1] or {}).get("entry_count", 0)}),
    ("lakehouse.meta.manifests", "collect_file_stats", None),
    ("lakehouse.meta.scan", "plan_scan",
     lambda a, k, r: {
         "candidate_files": r.candidate_files,
         "kept_files": len(r.files),
         "pruned_manifests": r.pruned_manifests,
         "delete_files": len(r.delete_files),
     }),
    ("lakehouse.meta.scan", "read_plan", None),
    ("lakehouse.ops.append", "write_data_files",
     lambda a, k, r: {
         "files_out": _n(r),
         "bytes_out": sum(e.file_size_bytes for e in r),
     }),
    ("lakehouse.ops.append", "harvest_stats", None),
    ("lakehouse.ops.compact", "compact",
     lambda a, k, r: {
         "files_rewritten": r.files_rewritten,
         "files_created": r.files_created,
         "bytes_rewritten": r.bytes_rewritten,
     }),
    ("lakehouse.ops.compact", "plan_bins", None),
    ("lakehouse.ops.cluster", "cluster",
     lambda a, k, r: {
         "files_rewritten": r.files_rewritten,
         "files_created": r.files_created,
         "bytes_rewritten": r.bytes_rewritten,
     }),
    ("lakehouse.ops.merge", "merge_into",
     lambda a, k, r: {
         "files_touched": r.files_touched,
         "rows_written": r.rows_written,
     }),
    # prune_files_by_key_bucket(spark, meta, src, key, live): the live
    # (pre-pruning) file list is the denominator of files_touched/live
    ("lakehouse.ops.merge", "prune_files_by_key_bucket",
     lambda a, k, r: {"live_files": _n(a[4]) if len(a) > 4 else 0}),
    ("lakehouse.ops.merge", "probe_touched_files", None),
    ("lakehouse.ops.mor", "merge_into_mor", None),
    ("lakehouse.ops.mor", "materialize_deletes", None),
    ("lakehouse.ops.expire", "expire_snapshots", None),
    ("lakehouse.ops.expire", "remove_orphan_files",
     lambda a, k, r: {"files_removed": len(r.deleted_files)}),
    ("lakehouse.ops.rewrite_manifests", "rewrite_manifests",
     lambda a, k, r: {
         "manifests_before": r.manifests_before,
         "manifests_after": r.manifests_after,
     }),
]


def span_name(module: str, fn: str) -> str:
    return f"{module.removeprefix('lakehouse.')}.{fn}"


class Tracer:
    """In-memory span log. One closed-loop client: at most one benchmark
    op is open at a time, but the engine may call shimmed functions from
    its own threads (compaction submits bins from a thread pool) — such
    spans parent to the open op's span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_id: Optional[int] = None
        self._op_span: Optional[int] = None
        self._patches: list[tuple[Any, str, Any]] = []
        self.bindings = 0  # module attributes the last install patched

    # --- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, op: Optional[int] = None) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                Span(sid, name, time.perf_counter(), parent=parent,
                     op=self._op_id if op is None else op)
            )
        stack.append(sid)
        return sid

    def close(self, sid: int, attrs: Optional[dict] = None) -> None:
        sp = self.spans[sid]
        sp.end = time.perf_counter()
        if attrs:
            sp.attrs.update(attrs)
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()

    def begin_op(self, op_id: int, kind: str) -> int:
        self._op_id = op_id
        self._op_span = None
        sid = self.open(f"op.{kind}", op=op_id)
        self._op_span = sid
        return sid

    def end_op(self, sid: int, attrs: Optional[dict] = None) -> None:
        self.close(sid, attrs)
        self._op_id = None
        self._op_span = None

    # --- shims -------------------------------------------------------------

    def _shim(self, name: str, fn: Callable, measure: Optional[Callable]):
        tracer = self

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            if tracer._op_id is None:
                return fn(*args, **kwargs)
            sid = tracer.open(name)
            try:
                result = fn(*args, **kwargs)
            except BaseException:
                tracer.close(sid, {"error": True})
                raise
            attrs = None
            if measure is not None:
                try:
                    attrs = measure(args, kwargs, result)
                except (AttributeError, TypeError, IndexError):
                    attrs = None
            tracer.close(sid, attrs)
            return result

        return shim

    def install(self) -> None:
        import lakehouse

        for info in pkgutil.walk_packages(lakehouse.__path__, "lakehouse."):
            importlib.import_module(info.name)
        mods = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == "lakehouse" or n.startswith("lakehouse."))
        ]
        for modname, fn_name, measure in TARGETS:
            orig = getattr(importlib.import_module(modname), fn_name)
            shim = self._shim(span_name(modname, fn_name), orig, measure)
            for m in mods:
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        self._patches.append((m, attr, orig))
                        setattr(m, attr, shim)
        self.bindings = len(self._patches)

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._patches):
            setattr(m, attr, orig)
        self._patches.clear()

    # --- analysis ----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id → self seconds: duration minus the union of the
        intervals its direct children cover (children may overlap when
        the engine runs them on several threads)."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered = 0.0
            cur_s = cur_e = None
            for c in sorted(children.get(sp.sid, []), key=lambda s: s.start):
                s, e = max(c.start, sp.start), min(c.end, sp.end)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.sid] = max(0.0, (sp.end - sp.start) - covered)
        return out

    def dump(self, path: str, t0: float) -> None:
        """Write spans as JSON lines, times in seconds from ``t0``."""
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.sid, "name": sp.name,
                    "start": round(sp.start - t0, 6),
                    "end": round(sp.end - t0, 6),
                    "parent": sp.parent, "op": sp.op, "attrs": sp.attrs,
                }) + "\n")
