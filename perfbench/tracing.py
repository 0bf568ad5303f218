"""Spans around the program's layer boundaries, recorded from outside.

Hooks wrap public functions of ``reden_spark`` at their module attributes,
so the program itself is not modified:

* pipeline stages -- the window between the pipeline setting the stage's
  ``reden-<stage>`` / ``reden-cur-<stage>`` job group and clearing it. This
  covers the stage's ``compute()`` (which runs eager checkpoints) and its
  ``sources.storage.write_stage`` call, which gets a child span;
* ``checkpointing.checkpoint`` / ``checkpointing.shared`` in every loaded
  ``reden_spark`` module that imported them;
* ``canonicalize.connected_components``.

Spans are kept in memory with parent ids and written out once, at exit.
Each stage span also records the Python-worker CPU consumed inside it.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from pathlib import Path

from . import procstat


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self.since_ms = 0.0  # epoch ms when the traced run started
        self._local = threading.local()
        self._stage: dict | None = None
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> dict:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        # a stage is a job-group window, not a call: it parents calls opened
        # inside it, including those on the operators' helper threads
        if self._stage is not None and (parent is None or self._stage["start"] > parent["start"]):
            parent = self._stage
        with self._lock:
            span = {
                "id": len(self.spans) + 1,
                "parent": parent["id"] if parent else None,
                "name": name,
                "thread": threading.current_thread().name,
                **attrs,
            }
            self.spans.append(span)
        stack.append(span)
        self.overhead_s += time.perf_counter() - t0
        span["start"] = time.perf_counter()
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return traced

    # -- hooks -------------------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, spark) -> None:
        from reden_spark import checkpointing
        from reden_spark.operators import canonicalize
        from reden_spark.plans import curation, pipeline  # noqa: F401  (imports every operator)
        from reden_spark.sources import storage

        for name, mod in list(sys.modules.items()):
            if name.startswith("reden_spark.") and mod is not checkpointing:
                for attr in ("checkpoint", "shared"):
                    if getattr(mod, attr, None) is getattr(checkpointing, attr):
                        self._patch(mod, attr, self.wrap(f"checkpointing.{attr}", getattr(mod, attr)))
        self._patch(
            canonicalize,
            "connected_components",
            self.wrap("canonicalize.connected_components", canonicalize.connected_components),
        )
        self._patch(storage, "write_stage", self.wrap("storage.write_stage", storage.write_stage))
        sc = spark.sparkContext
        self._patch(sc, "setJobGroup", self._wrap_job_group(sc.setJobGroup))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    def _wrap_job_group(self, fn):
        from .eventlog import GROUP_PREFIXES, stage_name

        @functools.wraps(fn)
        def traced(group_id, description, *args, **kwargs):
            t0 = time.perf_counter()
            py_cpu = procstat.python_worker_cpu()
            if self._stage is not None:
                self._stage["end"] = t0
                self._stage["py_cpu_s"] = py_cpu - self._stage.pop("py_cpu0")
                self._stage = None
            name = stage_name(group_id or "", GROUP_PREFIXES)
            if name is not None:
                stack = self._stack()
                self._stage = {
                    "id": len(self.spans) + 1,
                    "parent": stack[-1]["id"] if stack else None,
                    "name": "stage",
                    "stage": name,
                    "py_cpu0": py_cpu,
                }
                self.spans.append(self._stage)
            self.overhead_s += time.perf_counter() - t0
            if self._stage is not None:
                self._stage["start"] = time.perf_counter()
            return fn(group_id, description, *args, **kwargs)

        return traced

    # -- summaries ---------------------------------------------------------
    def stage_spans(self) -> dict[str, dict]:
        return {s["stage"]: s for s in self.spans if s["name"] == "stage" and "end" in s}

    def total(self, name: str) -> tuple[float, int]:
        done = [s for s in self.spans if s["name"] == name and "end" in s]
        return sum(s["end"] - s["start"] for s in done), len(done)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, "overhead_s": self.overhead_s}, indent=1))
