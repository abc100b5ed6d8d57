"""Per-layer tracing from outside the program: the traced run replaces
public functions of each layer with timing wrappers, keeps spans in
memory and reports totals when the run ends.

A span's *self* time is its duration minus the time of the traced spans
it directly contains.  A span nested inside a span of the same name
(recursion, a branch rule compiled inside its parent) is not counted
again.  Untraced runs install nothing.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.total = defaultdict(float)     # inclusive seconds per span
        self.children = defaultdict(float)  # seconds in direct children
        self.calls = defaultdict(int)
        self.counts = defaultdict(int)      # event counters
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn, on_error=None):
        """Timing wrapper around ``fn``; ``on_error(exc)`` may count an
        exception before it propagates."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            if name in stack:
                return fn(*args, **kwargs)
            stack.append(name)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            except BaseException as exc:
                if on_error is not None:
                    on_error(exc)
                raise
            finally:
                dt = time.perf_counter() - t0
                stack.pop()
                with tracer._lock:
                    tracer.total[name] += dt
                    tracer.calls[name] += 1
                    if stack:
                        tracer.children[stack[-1]] += dt

        return wrapper

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def patch(self, owner, attr: str, name: str, on_error=None) -> None:
        """Replace ``owner.attr`` and every module-level alias of the same
        function in ``rulemorph_spark.*`` (modules that imported it by
        name) with one wrapper."""
        orig = getattr(owner, attr)
        wrapped = self.wrap(name, orig, on_error)
        targets = [(owner, attr)]
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("rulemorph_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig and (mod, key) != (owner, attr):
                    targets.append((mod, key))
        for obj, key in targets:
            self._restore.append((obj, key, getattr(obj, key)))
            setattr(obj, key, wrapped)

    def self_time(self, name: str) -> float:
        return self.total[name] - self.children[name]

    def uninstall(self) -> None:
        for obj, key, val in reversed(self._restore):
            setattr(obj, key, val)
        self._restore.clear()


def install_program_spans(tracer: Tracer) -> None:
    """Wrap the public entry points of each layer the workloads reach."""
    import importlib

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    # import every module that may hold a by-name alias before patching
    for m in ("model", "validator", "engine", "compiler.rule",
              "compiler.typed", "compiler.sqlfn", "service.record",
              "service.endpoint", "interp", "llm.pipeline", "cli"):
        importlib.import_module(f"rulemorph_spark.{m}")
    from rulemorph_spark import engine, interp, model, validator
    from rulemorph_spark.compiler import rule, sqlfn, typed
    from rulemorph_spark.llm import pipeline
    from rulemorph_spark.service import endpoint

    tracer.patch(model, "parse_rule_file", "model.parse")
    tracer.patch(model, "parse_rule_dict", "model.parse")
    tracer.patch(validator, "validate_rule", "validator.validate")
    tracer.patch(engine, "records_from_json_text", "engine.ingest")
    tracer.patch(engine, "records_from_csv", "engine.ingest")
    tracer.patch(engine, "transform_with_warnings", "engine.transform")
    # PySpark 4.1 classic sessions return this subclass; the base
    # pyspark.sql.DataFrame.collect is never the method called
    tracer.patch(ClassicDF, "collect", "engine.collect")
    tracer.patch(rule.RuleCompiler, "compile", "compiler.rule.compile")

    def typed_fallback(exc):
        if isinstance(exc, typed.TypedFallback):
            tracer.count("engine.variant_fallbacks")

    tracer.patch(typed.TypedRuleCompiler, "compile",
                 "compiler.typed.compile", on_error=typed_fallback)
    tracer.patch(sqlfn, "ensure_fn", "compiler.sqlfn.ensure")
    tracer.patch(endpoint.EndpointEngine, "handle_request",
                 "service.endpoint.handle")
    # the endpoint imported transform_record by name
    tracer.patch(endpoint, "transform_record", "service.record.transform")
    for name in ("transform", "transform_with_warnings", "transform_record",
                 "eval_pipe_json"):
        tracer.patch(interp, name, "interp.call")
    tracer.patch(pipeline, "compile_pipeline", "llm.pipeline.compile")
