"""Spans around the calls into each module of the package.

Only the traced run installs them.  Each module-level function listed in
``LAYERS`` is replaced, in every loaded module of the package that holds a
reference to it, by a wrapper that opens a span.  A span sets the Spark
local property ``dedupbench.span`` to its id, so every job started while it
is the innermost open span carries that id into the event log
(``eventlog.py`` joins on it).

A layer's wall time counts only its outermost spans (a layer calling
itself is not double counted); its self time is span time not covered by
child spans of any layer.
"""

from __future__ import annotations

import functools
import sys
import time
from dataclasses import dataclass, field

PROPERTY = "dedupbench.span"

# layer (module under duplicatesuricate_spark) -> the public names the
# workloads reach; "Class.method" patches the method on the class
LAYERS = {
    "sources.corpus": ["read_corpus", "with_doc_identity", "resolve_id_collisions"],
    "functions.util": ["ensure_min_partitions"],
    "operators.dedup": ["dedup_pipeline", "exact_dup_edges", "exact_dup_map",
                        "DedupResult.unpersist"],
    "functions.sketch": ["with_full_sketches"],
    "operators.lsh": ["band_explode", "simhash_block_explode", "candidate_pairs"],
    "operators.score": ["score_and_verify"],
    "operators.substring": ["exact_substring_pairs", "substring_candidates",
                            "verify_containment"],
    "operators.components": ["connected_components", "assignments_with_singletons"],
    "streaming.incremental": ["incremental_dedup", "DedupState.write",
                              "DedupState.append"],
    "sources.sinks": ["write_dedup_outputs", "write_parquet"],
}
PACKAGE = "duplicatesuricate_spark"


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    op: int
    t0: float
    t1: float = 0.0


@dataclass
class Tracer:
    sc: object  # SparkContext
    spans: list = field(default_factory=list)
    overhead_s: float = 0.0
    op: int = -1
    _stack: list = field(default_factory=list)
    _undo: list = field(default_factory=list)

    # -- span bookkeeping --------------------------------------------------
    def _set(self, value: str | None) -> None:
        self.sc.setLocalProperty(PROPERTY, value)

    def begin_op(self, op: int) -> None:
        """Root span of one timed operation (layer ``run``)."""
        self.op = op
        self._open("run", "op")

    def end_op(self) -> None:
        self._close()
        self.op = -1

    def _open(self, layer: str, name: str) -> None:
        t = time.perf_counter()
        span = Span(len(self.spans), self._stack[-1].id if self._stack else None,
                    layer, name, self.op, time.monotonic())
        self.spans.append(span)
        self._stack.append(span)
        self._set(str(span.id))
        self.overhead_s += time.perf_counter() - t

    def _close(self) -> None:
        t = time.perf_counter()
        span = self._stack.pop()
        span.t1 = time.monotonic()
        self._set(str(self._stack[-1].id) if self._stack else None)
        self.overhead_s += time.perf_counter() - t

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.op < 0:
                return fn(*args, **kwargs)
            self._open(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close()

        return traced

    # -- installation --------------------------------------------------------
    def install(self) -> None:
        import importlib

        mods = [importlib.import_module(f"{PACKAGE}.{layer}") for layer in LAYERS]
        for layer, mod in zip(LAYERS, mods):
            for name in LAYERS[layer]:
                if "." in name:
                    cls_name, meth = name.split(".")
                    cls = getattr(mod, cls_name)
                    orig = cls.__dict__[meth]
                    self._patch(cls, meth, orig, self.wrap(layer, name, orig))
                    continue
                orig = getattr(mod, name)
                wrapped = self.wrap(layer, name, orig)
                # rebind every module-level reference (``from x import f``
                # copies the function object into the importer)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(PACKAGE):
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                self._patch(m, attr, orig, wrapped)

    def _patch(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def layer_times(spans: list[Span], ops: set[int]) -> dict[str, dict[str, float]]:
    """Per layer: summed outermost wall and self time over spans of ``ops``."""
    by_id = {s.id: s for s in spans}
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.t1 - s.t0)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        if s.op not in ops:
            continue
        rec = out.setdefault(s.layer, {"wall_s": 0.0, "self_s": 0.0})
        dur = s.t1 - s.t0
        rec["self_s"] += dur - child_time.get(s.id, 0.0)
        # outermost span of its layer: no ancestor in the same layer
        p = s.parent
        while p is not None and by_id[p].layer != s.layer:
            p = by_id[p].parent
        if p is None:
            rec["wall_s"] += dur
    return out
