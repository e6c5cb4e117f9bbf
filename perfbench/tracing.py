"""Outside-in tracing: spans around calls into the engine's public functions.

A span records a layer name, a phase (``construct`` builds a lazy DataFrame,
``execute`` runs Spark jobs: materialize, collect, write or fit), start and
end, its parent and an optional request id. While a span is open it is the
innermost one, so:

- every py4j command sent through the gateway client is counted against it
  (the counter wraps ``GatewayClient.send_command`` on the live client);
- every Spark job it starts carries its own job group, ``pb-<span id>``,
  so the jobs of a span are read back from the status tracker afterwards.

Spans stay in memory; ``Tracer.report`` turns them into per-layer totals and
self times once the timed region is over. A disabled tracer (``Tracer(None)``)
keeps only the bare timing the untraced run needs.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    layer: str
    phase: str
    parent: int | None
    start: float
    end: float = 0.0
    request: int | None = None
    py4j: int = 0
    jobs: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: dict[int, Span]) -> float:
    """Span duration minus the part of it covered by its direct children
    (overlapping children count once)."""
    ivs = sorted(
        (max(spans[c].start, span.start), min(spans[c].end, span.end))
        for c in span.children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
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
    return span.duration - covered


class Tracer:
    """Span recorder. ``sc`` is the SparkContext to instrument, or None for
    the untraced run, where ``span`` only yields."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: dict[int, Span] = {}
        self._stack: list[Span] = []
        self._client = None
        self._orig_send = None
        self.bookkeeping_s = 0.0  # tracer's own time inside timed regions

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def install(self) -> None:
        """Start counting py4j commands at the gateway connection."""
        if not self.enabled or self._client is not None:
            return
        client = self.sc._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def counting_send(*args, **kwargs):
            if tracer._stack:
                tracer._stack[-1].py4j += 1
            return orig(*args, **kwargs)

        self._client, self._orig_send = client, orig
        client.send_command = counting_send

    def uninstall(self) -> None:
        if self._client is not None:
            self._client.send_command = self._orig_send
            self._client = self._orig_send = None

    @contextmanager
    def paused(self):
        """Send commands that are not the engine's (job-group tagging, status
        reads) without counting them."""
        client = self._client
        if client is None:
            yield
            return
        prev, client.send_command = client.send_command, self._orig_send
        try:
            yield
        finally:
            client.send_command = prev

    @contextmanager
    def span(self, layer: str, phase: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), layer, phase, parent.sid if parent else None, 0.0,
                  request=request if request is not None else (parent.request if parent else None))
        self.spans[sp.sid] = sp
        if parent is not None:
            parent.children.append(sp.sid)
        self._set_group(sp)
        self._stack.append(sp)
        b1 = time.perf_counter()
        self.bookkeeping_s += b1 - b0
        sp.start = b1
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.bookkeeping_s += time.perf_counter() - sp.end

    def _set_group(self, sp: Span | None) -> None:
        with self.paused():
            if sp is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"pb-{sp.sid}", f"{sp.layer}:{sp.phase}")

    def count_jobs(self) -> None:
        """Attach each span's own job count (read after the timed region)."""
        if not self.enabled:
            return
        with self.paused():
            tracker = self.sc.statusTracker()
            for sp in self.spans.values():
                sp.jobs = len(tracker.getJobIdsForGroup(f"pb-{sp.sid}"))

    def report(self) -> dict[str, float]:
        """Per-layer totals: ``<layer>.construct_s``, ``.execute_s``,
        ``.self_s``, ``.py4j_calls`` and ``.jobs``; py4j calls and jobs are
        the span's own (not its children's)."""
        out: dict[str, float] = {}
        for sp in self.spans.values():
            key = f"{sp.layer}.{sp.phase}_s"
            out[key] = out.get(key, 0.0) + sp.duration
            out[f"{sp.layer}.self_s"] = out.get(f"{sp.layer}.self_s", 0.0) + self_time(sp, self.spans)
            out[f"{sp.layer}.py4j_calls"] = out.get(f"{sp.layer}.py4j_calls", 0) + sp.py4j
            out[f"{sp.layer}.jobs"] = out.get(f"{sp.layer}.jobs", 0) + sp.jobs
        return out
