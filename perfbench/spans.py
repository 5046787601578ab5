"""Span tracing around the public entry points of each layer.

`Tracer.install()` replaces each traced function with a wrapper that
records a span (name, start, end, parent) while the tracer is enabled.
A function that other modules imported by name (`from hopspark.ckpt
import materialize`) is replaced in those modules too, so every call
site is seen.  Spans stay in memory; `summary()` reduces them at the end
to per-layer call counts, total time and self time (a span's duration
minus the time its direct children cover).

Nothing inside the program is edited: the wrappers live here and are
installed in the benchmark's worker process only, for its lifetime.
"""

from __future__ import annotations

import functools
import sys
import time
from dataclasses import dataclass

#: (module, attribute path, span name).  The attribute path may name a
#: class method as "Class.method".
TRACED = (
    ("hopspark.session", "get_spark", "session.get_spark"),
    ("hopspark.functions.registry", "register_all", "functions.register_all"),
    ("hopspark.catalog", "register", "catalog.register"),
    ("hopspark.dialect.translate", "translate", "dialect.translate"),
    ("hopspark.engine", "Engine.sql", "engine.sql"),
    ("pyspark.sql.session", "SparkSession.sql", "spark.sql"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "spark.collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame.toPandas", "spark.collect"),
    ("hopspark.ckpt", "materialize", "ckpt.materialize"),
    ("hopspark.sources.iceberg", "write_iceberg_table", "sources.iceberg_write"),
    ("hopspark.sources.iceberg", "delete_from_iceberg", "sources.iceberg_delete"),
    ("hopspark.sources.iceberg", "compact_data_files", "sources.iceberg_compact"),
    ("hopspark.sources.iceberg", "read_iceberg", "sources.iceberg_read"),
    ("hopspark.sources.avro_codec", "write_avro_native", "sources.avro_write"),
    ("hopspark.sources.avro_codec", "read_avro_native", "sources.avro_read"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    child_s: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []

    # -- recording ---------------------------------------------------------

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        if span.parent >= 0:
            self.spans[span.parent].child_s += span.end - span.start

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        return traced

    # -- installation ------------------------------------------------------

    def install(self, targets=TRACED) -> None:
        """Wrap every target, including the copies other modules bound at
        import time.  Imports the target modules as a side effect."""
        import importlib

        for mod_name, attr, span_name in targets:
            owner = importlib.import_module(mod_name)
            *cls_path, fn_name = attr.split(".")
            for part in cls_path:
                owner = getattr(owner, part)
            original = owner.__dict__[fn_name]
            wrapped = self.wrap(original, span_name)
            setattr(owner, fn_name, wrapped)
            if cls_path:
                continue
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "")
                if not name.startswith("hopspark") or mod is owner:
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, key, wrapped)

    # -- reduction ---------------------------------------------------------

    def summary(self, since: int = 0) -> dict[str, dict[str, float]]:
        """Per span name: calls, total_ms and self_ms over spans[since:].
        Nested spans of the same name count once in total_ms."""
        out: dict[str, dict[str, float]] = {}
        spans = self.spans
        for i in range(since, len(spans)):
            s = spans[i]
            dur = s.end - s.start
            row = out.setdefault(s.name, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
            row["calls"] += 1
            row["self_ms"] += (dur - s.child_s) * 1000.0
            p = s.parent
            while p >= 0 and spans[p].name != s.name:
                p = spans[p].parent
            if p < 0:
                row["total_ms"] += dur * 1000.0
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.idx = tracer, name, -1

    def __enter__(self):
        if self.tracer.enabled:
            self.idx = self.tracer.begin(self.name)
        return self

    def __exit__(self, *exc) -> None:
        if self.idx >= 0:
            self.tracer.end(self.idx)
