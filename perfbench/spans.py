"""Spans around the calls into each engine module, recorded from outside.

`instrument(tracer)` wraps the public entry points the engine's layers
are reached through (parser, Engine.execute, macros, the execution
context, sources, the ET registry, SparkSession.sql) and restores them
on exit.  Every wrapped call becomes a span with a name, a start, an
end, a parent and the id of the script it ran under.  Spans stay in
memory; `Tracer.dump` writes them out when the run ends.

A span's self time is its duration minus the part of its interval that
its child spans cover.  Because every span under `Engine.execute` has a
layer, the layers' self times of one script add up to the wall time of
its `Engine.execute` call.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import Counter
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    script: str


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [s.end - s.start - covered(children.get(i, []), s.start, s.end)
            for i, s in enumerate(spans)]


class Tracer:
    """Span recorder for one driver thread.  It records only while
    `instrument` has it active; otherwise `span` does nothing."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.script = ""
        self._stack: list[int] = []
        self._layers: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self.script))
        self._stack.append(idx)
        self._layers.append(layer)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._layers.pop()

    def inside(self, layer: str) -> bool:
        return layer in self._layers

    def parent_name(self) -> str:
        return self.spans[self._stack[-1]].name if self._stack else ""

    def wrap(self, fn, name: str, layer: str):
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_s": self_times(self.spans)}, fh)


class _TracedET:
    """An ET whose `train` and `batch_predict` calls are spans."""

    def __init__(self, alg, name: str, tracer: Tracer) -> None:
        self._alg, self._name, self._tracer = alg, name, tracer

    def __getattr__(self, attr):
        return getattr(self._alg, attr)

    def train(self, *args, **kwargs):
        with self._tracer.span(f"operators.{self._name}", "operators"):
            return self._alg.train(*args, **kwargs)

    def batch_predict(self, *args, **kwargs):
        with self._tracer.span(f"operators.{self._name}", "operators"):
            return self._alg.batch_predict(*args, **kwargs)


@contextlib.contextmanager
def instrument(tracer: Tracer, sql_results: list):
    """Install the wrappers for the duration of the block.  Every
    DataFrame that `SparkSession.sql` returns is appended to
    `sql_results`, so its plan can be measured after the script."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.session import SparkSession

    import streamingpro_spark.engine as engine_mod
    import streamingpro_spark.operators.registry as et_registry
    import streamingpro_spark.parser as parser_mod
    import streamingpro_spark.sources.registry as sources
    from streamingpro_spark.context import ExecutionContext

    saved: list[tuple[object, str, object]] = []
    missing = object()

    def patch(owner, attr: str, replacement) -> None:
        saved.append((owner, attr, owner.__dict__.get(attr, missing)))
        setattr(owner, attr, replacement)

    try:
        split = parser_mod.split_statements

        def split_statements(script):
            with tracer.span("parser.split_statements", "parser"):
                out = split(script)
            if tracer.parent_name() == "engine.execute":
                tracer.counts["engine.statements"] += len(out)
            return out

        patch(parser_mod, "split_statements", split_statements)
        for fn in ("template_merge", "parse_statement"):
            patch(parser_mod, fn, tracer.wrap(getattr(parser_mod, fn), f"parser.{fn}", "parser"))
        patch(engine_mod.Engine, "execute",
              tracer.wrap(engine_mod.Engine.execute, "engine.execute", "engine"))
        patch(engine_mod, "expand_macro",
              tracer.wrap(engine_mod.expand_macro, "macros.expand_macro", "macros"))
        patch(ExecutionContext, "register",
              tracer.wrap(ExecutionContext.register, "context.register", "context"))
        patch(sources, "load_source",
              tracer.wrap(sources.load_source, "sources.load_source", "sources.load"))
        patch(sources, "save_sink",
              tracer.wrap(sources.save_sink, "sources.save_sink", "sources.save"))

        find = et_registry.find_algorithm
        patch(et_registry, "find_algorithm",
              lambda name: _TracedET(find(name), name, tracer))

        sql = SparkSession.sql

        def traced_sql(self, *args, **kwargs):
            with tracer.span("catalyst.sql", "catalyst"):
                df = sql(self, *args, **kwargs)
            sql_results.append(df)
            return df

        patch(SparkSession, "sql", traced_sql)

        init = DataFrame.__init__

        def traced_init(self, *args, **kwargs):
            if tracer.inside("operators"):
                tracer.counts["operators.dataframes"] += 1
            init(self, *args, **kwargs)

        patch(DataFrame, "__init__", traced_init)
        for method in ("checkpoint", "localCheckpoint"):
            original = getattr(DataFrame, method)

            def counted(self, *args, _original=original, **kwargs):
                tracer.counts["operators.checkpoints"] += 1
                return _original(self, *args, **kwargs)

            patch(DataFrame, method, counted)
        tracer.active = True
        yield
    finally:
        tracer.active = False
        for owner, attr, original in reversed(saved):
            if original is missing:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)


#: counters the wrappers keep besides spans
COUNTS = ("engine.statements", "operators.dataframes", "operators.checkpoints")

#: span layers whose self time the per-layer metrics report
LAYER_SELF_METRICS = {
    "parser": "parser.self_s",
    "engine": "engine.self_s",
    "macros": "macros.self_s",
    "context": "context.self_s",
    "sources.load": "sources.load_s",
    "sources.save": "sources.save_s",
    "operators": "operators.et_s",
    "catalyst": "catalyst.sql_s",
    "force": "force.self_s",
}

LAYER_CALL_METRICS = {
    "parser": "parser.calls",
    "macros": "macros.expansions",
    "context": "context.views",
    "sources.load": "sources.load_calls",
    "sources.save": "sources.save_calls",
    "operators": "operators.et_calls",
    "catalyst": "catalyst.sql_calls",
}


def _is_top_execute(spans: list[Span], s: Span) -> bool:
    return s.name == "engine.execute" and (s.parent < 0 or spans[s.parent].layer == "script")


def layer_totals(spans: list[Span], scripts: set[str]) -> dict[str, float]:
    """Per-layer call counts and self times over the spans of `scripts`;
    also `engine.execute_s`, the summed wall time of the top-level
    `Engine.execute` calls, and `operators.et_s.<ET>` per ET."""
    out: Counter = Counter({m: 0 for m in (*LAYER_SELF_METRICS.values(),
                                            *LAYER_CALL_METRICS.values(),
                                            "engine.execute_s")})
    for s, own in zip(spans, self_times(spans)):
        if s.script not in scripts:
            continue
        if s.layer in LAYER_SELF_METRICS:
            out[LAYER_SELF_METRICS[s.layer]] += own
        if s.layer in LAYER_CALL_METRICS:
            out[LAYER_CALL_METRICS[s.layer]] += 1
        if s.layer == "operators":
            out[f"operators.et_s.{s.name.split('.', 1)[1]}"] += own
        if _is_top_execute(spans, s):
            out["engine.execute_s"] += s.end - s.start
    return dict(out)


def execute_residuals(spans: list[Span]) -> list[float]:
    """For each top-level `Engine.execute` span: its wall time minus the
    self times of every span in its subtree.  Zero up to rounding."""
    own = self_times(spans)
    root = [-1] * len(spans)
    out: dict[int, float] = {}
    for i, s in enumerate(spans):
        if _is_top_execute(spans, s):
            root[i] = i
            out[i] = s.end - s.start
        elif s.parent >= 0:
            root[i] = root[s.parent]
        if root[i] >= 0:
            out[root[i]] -= own[i]
    return list(out.values())
