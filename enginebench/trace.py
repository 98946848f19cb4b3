"""In-memory spans recorded from outside the engine.

``Tracer.install`` swaps wrappers onto the public functions of the
``tinybrain_spark`` layers; ``uninstall`` puts the originals back, so an
untraced op runs the unmodified engine.  Each span has a name
(``<layer>.<what>``), start, end, parent span and op id.  Lazy APIs that
return a DataFrame are timed by the benchmark itself with ``span``
around the call plus the action that realizes it.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Tables that belong to the checkpoint layer rather than to the data.
CHECKPOINT_TABLES = ("lineage", "metrics")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.op, attrs)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def _wrap(self, owner, attr: str, namer):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name, attrs = namer(args, kwargs)
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the public entry points of each layer and start recording."""
        from tinybrain_spark import aggregates, catalog, checkpoint
        from tinybrain_spark import retention, rollup, serving

        def fixed(name):
            return lambda a, k: (name, {})

        def tier_of(a, k):
            tier = k.get("tier", a[3] if len(a) > 3 else None)
            return "rollup.run_tier", {"tier": tier}

        def write_of(a, k):
            table = k.get("name", a[2] if len(a) > 2 else "")
            layer = "checkpoint" if table in CHECKPOINT_TABLES else "catalog"
            return f"{layer}.write", {"table": table}

        E, C, S = rollup.RollupEngine, catalog.Catalog, checkpoint.CheckpointStore
        self._wrap(E, "run_pyramid", fixed("rollup.run_pyramid"))
        self._wrap(E, "run_tier", tier_of)
        self._wrap(C, "write", write_of)
        self._wrap(C, "read", fixed("catalog.read"))
        self._wrap(C, "exists", fixed("catalog.exists"))
        self._wrap(S, "record_tier", fixed("checkpoint.record_tier"))
        self._wrap(S, "completed_sources", fixed("checkpoint.completed_sources"))
        self._wrap(serving, "read_series", fixed("serving.read_series"))
        self._wrap(
            aggregates, "update_continuous_aggregate", fixed("aggregates.update")
        )
        self._wrap(retention, "enforce_retention", fixed("retention.enforce"))
        self.active = True

    def uninstall(self) -> None:
        self.active = False
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # -- analysis ---------------------------------------------------------

    @staticmethod
    def span_cost_s(calls: int = 20000) -> float:
        """Seconds one recorded span adds to a wrapped call: a wrapped
        no-op timed against the bare one, on a scratch tracer."""
        class Target:
            @staticmethod
            def noop():
                return None

        bare = Target.noop
        t0 = time.perf_counter()
        for _ in range(calls):
            bare()
        base = time.perf_counter() - t0
        tr = Tracer()
        tr._wrap(Target, "noop", lambda a, k: ("bench.noop", {}))
        tr.active = True
        t0 = time.perf_counter()
        for _ in range(calls):
            Target.noop()
        return max(0.0, (time.perf_counter() - t0 - base) / calls)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover
        (children of one span never overlap: one client thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.sid: s.dur - child[s.sid] for s in self.spans}

    def per_op(self, name: str, pred=None) -> dict[int, float]:
        """op id -> summed duration of spans called ``name``."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s.name == name and s.op is not None and (pred is None or pred(s)):
                out[s.op] = out.get(s.op, 0.0) + s.dur
        return out

    def layer_self_per_op(self) -> dict[str, dict[int, float]]:
        """layer -> op id -> self time of that layer's spans in the op.
        Time a span spends in a child of its own layer stays in the
        layer, so this is the layer's exclusive time."""
        selfs = self.self_times()
        out: dict[str, dict[int, float]] = {}
        for s in self.spans:
            if s.op is None:
                continue
            d = out.setdefault(s.layer, {})
            d[s.op] = d.get(s.op, 0.0) + selfs[s.sid]
        return out
