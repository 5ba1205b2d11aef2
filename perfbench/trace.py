"""Spans recorded from outside the engine.

``Tracer.install()`` replaces selected public functions and methods of
the ``pi2spark`` modules with wrappers that record a span per call:
name, start, end, parent span and the request it belongs to. A module
function is replaced in every ``pi2spark`` module (and in
``__spark_entry__``) that bound it by name, so ``from x import f``
call sites are traced too.

Each span also tags the Spark jobs it starts: the wrapper sets the
``spark.jobGroup.id`` local property to the span's own group and puts
the parent's back on exit, so every job belongs to the innermost open
span. ``finish()`` reads the jobs and completed tasks of each group
from the status tracker once the listener bus has drained. The engine
itself is not changed.

Spans stay in memory until ``write()``.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

# (module, attribute, span name, result hook). The attribute may be a
# ``Class.method``. Hooks attach counters to the span from the call's
# arguments and result.


def _plan_hook(span, args, kwargs, result):
    snap, files = result
    span["counters"] = {"files_planned": len(files), "files_live": len(snap.files)}


def _sweep_hook(span, args, kwargs, result):
    span["counters"] = {"stats_files": len(result)}


def _pass_hook(span, args, kwargs, result):
    span["counters"] = {
        "files_in": result.rewritten_files,
        "files_out": result.added_files,
        "bytes_rewritten": result.rewritten_bytes,
        "replans": int(result.details.get("replans", 0)),
    }


def _expire_hook(span, args, kwargs, result):
    span["counters"] = {
        "files_in": int(result.get("expired_snapshots", 0)),
        "files_out": int(result.get("deleted_files", 0)),
        "bytes_rewritten": 0,
        "replans": 0,
    }


LAYERS = [
    ("pi2spark.crypto", "broadcast_keys", "crypto.keys", None),
    ("pi2spark.registry", "KeyRegistry.key_df", "crypto.keys", None),
    ("pi2spark.registry", "KeyRegistry.forget", "registry.forget", None),
    ("pi2spark.table", "Table.write_files", "table.write", None),
    ("pi2spark.table", "collect_data_files", "table.stats_sweep", _sweep_hook),
    ("pi2spark.table", "Table.commit", "table.commit", None),
    ("pi2spark.table", "Table.snapshot", "table.snapshot", None),
    ("pi2spark.table", "Table.plan_files", "table.plan", _plan_hook),
    ("pi2spark.table", "Table.new_data_dir", "table.new_data_dir", None),
    ("pi2spark.zorder", "column_boundaries_from_stats", "zorder.boundaries", None),
    ("pi2spark.zorder", "column_boundaries", "zorder.boundaries", None),
    ("pi2spark.maintenance", "compact", "maintenance.compact", _pass_hook),
    ("pi2spark.maintenance", "cluster", "maintenance.cluster", _pass_hook),
    ("pi2spark.maintenance", "shred", "maintenance.shred", _pass_hook),
    ("pi2spark.maintenance", "expire_snapshots", "maintenance.expire", _expire_hook),
    ("pi2spark.verify", "content_digest", "verify.digest", None),
]


class Tracer:
    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._request: str | None = None
        self._restore: list[tuple[object, str, object]] = []
        self.enabled = True
        self.unit: int | None = None  # index of the unit of work running

    # -- spans --

    @contextmanager
    def request(self, request_id: str):
        """All spans opened inside share ``request_id``."""
        prev, self._request = self._request, request_id
        try:
            with self.span("request", kind=request_id.split("-")[0]) as s:
                yield s
        finally:
            self._request = prev

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self._request,
            "unit": self.unit,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(f"pb-span-{s['id']}")
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(f"pb-span-{parent['id']}" if parent else None)

    @contextmanager
    def quiet(self):
        """Record no spans inside: the benchmark's own lookups between
        timed phases are not the engine's work."""
        prev, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = prev

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    # -- wrapping the engine's public calls --

    def wrap(self, fn, name: str, hook=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                result = fn(*args, **kwargs)
                if hook is not None and s:
                    hook(s, args, kwargs, result)
                return result

        traced.__wrapped_by_perfbench__ = True
        return traced

    def install(self, layers=LAYERS) -> None:
        for mod_name, attr, name, hook in layers:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._restore.append((cls, meth, orig))
                setattr(cls, meth, self.wrap(orig, name, hook))
                continue
            orig = getattr(mod, attr)
            traced = self.wrap(orig, name, hook)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "") or ""
                if not (mname.startswith("pi2spark") or mname == "__spark_entry__"):
                    continue
                if getattr(m, attr, None) is orig:
                    self._restore.append((m, attr, orig))
                    setattr(m, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- Spark work per span --

    def finish(self) -> None:
        """Attach ``jobs`` and ``tasks`` (Spark jobs started inside the
        span itself, not its children, and their completed tasks)."""
        if self.sc is None:
            return
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — best effort; fall back to a pause
            time.sleep(1.0)
        st = self.sc.statusTracker()
        for s in self.spans:
            jobs = st.getJobIdsForGroup(f"pb-span-{s['id']}")
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            s["jobs"], s["tasks"] = len(jobs), tasks

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")
