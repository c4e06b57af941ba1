"""In-memory spans and counters, and the wrappers that time the core layers
from outside the program.

A span records its name, start, end, parent span, the document it belongs
to and the run id. Spans nest strictly (the calls are synchronous), so a
span's self time is its duration minus the summed durations of its direct
children. Spans stay in memory and are written out once, at the end of the
traced run.

``Instrumented(tracer)`` swaps the names that ``core.pipeline`` imports
(the rule sieves, the feature builders, the shipped liblinear models, the
causal candidate generator) for timed, counting wrappers, and restores
them on exit. The program's files are not edited."""

from __future__ import annotations

import json
import time
from collections import Counter

_ns = time.perf_counter_ns

# span name -> core layer it is charged to
LAYER_OF = {
    "docmodel.parse": "docmodel",
    "timexrule.tt": "timexrule",
    "eventrules.rule": "eventrules",
    "features.vector": "features",
    "liblinear.predict": "liblinear",
    "markers.causal": "markers",
    "timegraph.filter": "timegraph",
    "pipeline.temporal": "pipeline",
    "doc": "pipeline",
}
CORE_LAYERS = ("docmodel", "timexrule", "eventrules", "features",
               "liblinear", "markers", "timegraph", "pipeline")


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class NullTracer:
    """Tracing off: spans cost one method call and record nothing."""
    _span = _NullSpan()

    def span(self, name: str):
        return self._span

    def count(self, key: str, n: int = 1) -> None:
        pass


class _Span:
    __slots__ = ("tr", "name", "t0", "child", "sid", "parent")

    def __init__(self, tr, name):
        self.tr, self.name = tr, name

    def __enter__(self):
        tr = self.tr
        tr.next_id += 1
        self.sid = tr.next_id
        self.parent = tr.stack[-1] if tr.stack else None
        self.child = 0
        tr.stack.append(self)
        self.t0 = _ns()
        return self

    def __exit__(self, *exc):
        t1 = _ns()
        tr = self.tr
        tr.stack.pop()
        dur = t1 - self.t0
        if self.parent is not None:
            self.parent.child += dur
        tr.spans.append((self.sid, self.parent.sid if self.parent else None,
                         self.name, self.t0, t1, dur - self.child, tr.doc))
        return False


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        # (id, parent id, name, start ns, end ns, self ns, doc index)
        self.spans: list = []
        self.stack: list = []
        self.next_id = 0
        self.doc = None
        self.counts: Counter = Counter()

    def span(self, name: str) -> _Span:
        return _Span(self, name)

    def count(self, key: str, n: int = 1) -> None:
        self.counts[key] += n

    def self_us_by_doc(self) -> dict:
        """layer -> {doc index: self time in us}."""
        out: dict = {}
        for _, _, name, _, _, self_ns, doc in self.spans:
            layer = LAYER_OF.get(name)
            if layer is not None and doc is not None:
                per = out.setdefault(layer, {})
                per[doc] = per.get(doc, 0.0) + self_ns / 1e3
        return out

    def span_seconds(self, name: str) -> float:
        return sum(t1 - t0 for _, _, n, t0, t1, _, _ in self.spans
                   if n == name) / 1e9

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sid, parent, name, t0, t1, self_ns, doc in self.spans:
                f.write(json.dumps({"run": self.run_id, "id": sid,
                                    "parent": parent, "name": name,
                                    "start_ns": t0, "end_ns": t1,
                                    "self_ns": self_ns, "doc": doc}) + "\n")


class _TimedModel:
    """Proxy for a shipped LinearModel that times ``predict_strings``."""

    def __init__(self, model, name, tr):
        self._model, self._name, self._tr = model, name, tr

    def predict_strings(self, X, labels):
        tr = self._tr
        tr.count("liblinear.calls")
        tr.count("liblinear.rows", X.shape[0])
        if self._name == "causal":
            tr.count("markers.gate_pass", X.shape[0])
        with tr.span("liblinear.predict"):
            return self._model.predict_strings(X, labels)

    def __getattr__(self, attr):
        return getattr(self._model, attr)


class _TimedFeatures:
    """Stand-in for the ``features`` module inside ``core.pipeline``."""

    def __init__(self, module, tr):
        self._module, self._tr = module, tr
        for fn in ("et_vector", "ee_vector", "causal_vector"):
            setattr(self, fn, self._vector(getattr(module, fn)))

    def _vector(self, fn):
        tr = self._tr

        def timed(*args, **kwargs):
            tr.count("features.vectors")
            with tr.span("features.vector"):
                return fn(*args, **kwargs)
        return timed

    def to_matrix(self, rows):
        with self._tr.span("features.vector"):
            return self._module.to_matrix(rows)

    def __getattr__(self, attr):
        return getattr(self._module, attr)


class Instrumented:
    """Time the core layers by swapping the names ``core.pipeline`` calls
    for wrappers. Build once; each ``with`` block installs the wrappers and
    restores the originals on exit."""

    def __init__(self, tr: Tracer):
        from eventrelationextractor_spark.core import pipeline
        self.pipeline = pipeline
        orig = self.orig = {name: getattr(pipeline, name) for name in (
            "timex_timex_rule_links", "event_timex_rule", "event_event_rule",
            "et_dependency_path", "ee_dependency_path", "features",
            "shipped_model", "causal_candidate_pairs")}

        def tt_links(doc, max_timexes=None, pair_slice=None):
            n = sum(1 for e in doc.entities.values() if e.is_timex)
            if max_timexes is not None:
                n = min(n, max_timexes)
            tr.count("timexrule.pairs", n * (n - 1) // 2)
            with tr.span("timexrule.tt"):
                links = orig["timex_timex_rule_links"](doc, max_timexes,
                                                       pair_slice)
            tr.count("timexrule.hits", len(links) // 2)
            return links

        def rule(fn):
            def timed(*args):
                with tr.span("eventrules.rule"):
                    rel = fn(*args)
                tr.count("eventrules.candidates")
                if rel != "O":
                    tr.count("eventrules.hits")
                return rel
            return timed

        def dep_path(fn):
            def timed(*args):
                with tr.span("eventrules.rule"):
                    return fn(*args)
            return timed

        def shipped_model(name):
            return _TimedModel(orig["shipped_model"](name), name, tr)

        def candidates(doc, lx):
            pairs = orig["causal_candidate_pairs"](doc, lx)
            tr.count("markers.candidates", len(pairs))
            return pairs

        self.swaps = {
            "timex_timex_rule_links": tt_links,
            "event_timex_rule": rule(orig["event_timex_rule"]),
            "event_event_rule": rule(orig["event_event_rule"]),
            "et_dependency_path": dep_path(orig["et_dependency_path"]),
            "ee_dependency_path": dep_path(orig["ee_dependency_path"]),
            "features": _TimedFeatures(orig["features"], tr),
            "shipped_model": shipped_model,
            "causal_candidate_pairs": candidates,
        }

    def __enter__(self):
        for name, fn in self.swaps.items():
            setattr(self.pipeline, name, fn)
        return self

    def __exit__(self, *exc):
        for name, fn in self.orig.items():
            setattr(self.pipeline, name, fn)
        return False
