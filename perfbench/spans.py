"""Span tracing around the engine's public layer boundaries.

The wrappers are installed from here, by replacing module and class
attributes for the length of a traced run; no file of the engine
changes. Spans are kept in memory and written out as JSON lines when the
run ends: name, start, end, parent span and the pass they belong to.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from typing import Callable, Optional


def _targets():
    """(owner, attribute, span name, result -> attrs) for every wrapped
    boundary. ``run_migration`` is wrapped twice because the runner
    imported it by name."""
    from a2b_spark.exec import executor, runner
    from a2b_spark.exec.references import ReferenceStore
    from a2b_spark.mapping.store import MappingStore
    from a2b_spark.sinks.base import VersionedTableDestination
    from a2b_spark.storage.table import VersionedParquetTable

    def migration_attrs(r):
        return {"migration": r.migration, "rows_in": r.rows_in,
                "rows_written": r.rows_written, "orphans": r.orphan_count}

    return [
        (runner, "run_pipeline", "exec.runner.run_pipeline", None),
        (runner, "run_migration", "exec.executor.run_migration", migration_attrs),
        (executor, "run_migration", "exec.executor.run_migration", migration_attrs),
        (ReferenceStore, "resolve", "exec.references.resolve", None),
        (MappingStore, "load", "mapping.load", None),
        (MappingStore, "merge", "mapping.merge", None),
        (VersionedTableDestination, "merge", "sinks.merge", None),
        (VersionedTableDestination, "delete_keys", "sinks.delete_keys", None),
        (VersionedParquetTable, "merge", "storage.merge", None),
        (VersionedParquetTable, "overwrite", "storage.overwrite", None),
        (VersionedParquetTable, "delete_keys", "storage.delete_keys", None),
    ]


def layer_of(name: str) -> str:
    return name.rsplit(".", 1)[0]


class Tracer:
    """Collects spans from every thread. A span opened on a thread with no
    open span is parented to the innermost open span of the thread that
    opened the pass, so migrations the runner fans out to its thread pool
    nest under its ``run_pipeline`` span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._pass: Optional[dict] = None
        self._pass_stack: list = []
        self._restore: list[tuple] = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        outer = stack or self._pass_stack
        parent = outer[-1]["id"] if outer else None
        rec = {
            "id": next(self._ids),
            "parent": parent,
            "pass": self._pass["pass"] if self._pass else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def pass_span(self, index: int, **attrs):
        with self.span("pass", **attrs) as rec:
            rec["pass"] = index
            self._pass = rec
            self._pass_stack = self._stack()
            try:
                yield rec
            finally:
                self._pass = None
                self._pass_stack = []

    def _wrap(self, fn: Callable, name: str, result_attrs) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if result_attrs is not None:
                    rec["attrs"].update(result_attrs(out))
                return out

        return wrapper

    def install(self) -> None:
        for owner, attr, name, result_attrs in _targets():
            fn = getattr(owner, attr)
            self._restore.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name, result_attrs))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, fn = self._restore.pop()
            setattr(owner, attr, fn)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it covered by the union
    of its children's intervals (children may overlap in time when the
    runner runs migrations on several threads)."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], ())
        )
        covered, lo, hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def pass_layer_metrics(spans: list[dict], small: tuple[str, ...]) -> dict:
    """Per-layer figures of one pass's spans."""
    selfs = self_times(spans)
    dur = {s["id"]: s["end"] - s["start"] for s in spans}

    def total(name):
        return sum(dur[s["id"]] for s in spans if s["name"] == name)

    pipeline = total("exec.runner.run_pipeline")
    pipelines = {s["id"] for s in spans if s["name"] == "exec.runner.run_pipeline"}
    migrations = [s for s in spans if s["name"] == "exec.executor.run_migration"]
    in_pipeline = sum(dur[s["id"]] for s in migrations if s["parent"] in pipelines)
    out = {
        "exec.runner.pipeline_s": pipeline,
        "exec.runner.overlap": in_pipeline / pipeline if pipeline else 0.0,
        "exec.executor.small_s": sum(
            dur[s["id"]] for s in migrations if s["attrs"].get("migration") in small
        ),
        "exec.references.resolve_s": total("exec.references.resolve"),
        "mapping.merge_s": total("mapping.merge"),
        "mapping.load_s": total("mapping.load"),
    }
    for layer in ("exec.runner", "exec.executor", "exec.references", "mapping", "sinks", "storage", "queries"):
        out[f"{layer}.self_s"] = sum(selfs[s["id"]] for s in spans if layer_of(s["name"]) == layer)
    return out


def per_call(spans: list[dict], name: str) -> float:
    """Mean seconds per call of one span name (0 when never called)."""
    d = [s["end"] - s["start"] for s in spans if s["name"] == name]
    return sum(d) / len(d) if d else 0.0
