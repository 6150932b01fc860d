"""Spans around the program's public layer entry points.

``Tracer.install()`` wraps ``build``, ``split_streams``, ``append_to_sink``
and ``per_sink_counts`` at the modules that call them
(``plans.pipeline``, ``streaming.stream``) and ``SinkCatalog.commit`` /
``SinkCatalog.compact`` on the class. Each wrapper records a span (name,
start, end, parent, run id, thread) and sets the Spark job description
to ``<layer>#<span id>``, so every Spark job submitted until the next
layer call carries that layer's name in the event log.

``per_sink_counts`` only builds a frame; the count jobs run when the
caller collects it. Its span therefore stays open until the returned
frame's ``collect()`` returns.

Spans live in memory; ``dump`` writes them out after the run.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    thread: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans; one instance per benchmark run."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        #: parent for spans opened on a thread with no open span (the
        #: foreachBatch callback thread of a stream)
        self.root: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    # --- span bookkeeping -------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, attrs: dict) -> Span:
        now = time.time()
        stack = self._stack()
        with self._lock:
            span = Span(
                id=len(self.spans),
                name=name,
                start=now,
                end=None,
                parent=stack[-1].id if stack else self.root,
                run_id=self.run_id,
                thread=threading.current_thread().name,
                attrs=attrs,
            )
            self.spans.append(span)
        stack.append(span)
        self.spark.sparkContext.setJobDescription(f"{name}#{span.id}")
        return span

    def _close(self, span: Span) -> None:
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        span.end = time.time()
        if stack:
            # back inside the enclosing layer call: its jobs are its own
            self.spark.sparkContext.setJobDescription(f"{stack[-1].name}#{stack[-1].id}")

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """A span around a block of the benchmark's own code (a batch,
        a drain, a query). Jobs after the outermost one are tagged
        ``idle``."""
        s = self._open(name, attrs)
        try:
            yield s
        finally:
            self._close(s)
            if not self._stack():
                self.spark.sparkContext.setJobDescription("idle")

    # --- wrappers ---------------------------------------------------------

    def _wrap(self, fn, name_of):
        tracer = self

        def wrapper(*args, **kwargs):
            s = tracer._open(name_of(args, kwargs), {})
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(s)

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_until_collect(self, fn, name: str):
        """Wrap a function that returns a frame: the span ends when the
        frame's ``collect()`` returns."""
        tracer = self

        def wrapper(*args, **kwargs):
            s = tracer._open(name, {})
            try:
                df = fn(*args, **kwargs)
            except BaseException:
                tracer._close(s)
                raise
            collect = df.collect

            def collect_and_close():
                try:
                    return collect()
                finally:
                    tracer._close(s)

            df.collect = collect_and_close
            return df

        wrapper.__wrapped__ = fn
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Patch the layer entry points (undone by ``uninstall``)."""
        from fluent_plugin_opensearch_spark.plans import pipeline
        from fluent_plugin_opensearch_spark.sinks import writer
        from fluent_plugin_opensearch_spark.streaming import stream

        def sink_name(args, kwargs):
            table = kwargs.get("table", args[2] if len(args) > 2 else "sink")
            return "sinks.append_dlq" if table == "dlq" else "sinks.append_sink"

        for mod in (pipeline, stream):
            self._patch(mod, "build", self._wrap(mod.build, lambda a, k: "operators.build"))
            self._patch(
                mod, "split_streams", self._wrap(mod.split_streams, lambda a, k: "plans.split")
            )
            self._patch(mod, "append_to_sink", self._wrap(mod.append_to_sink, sink_name))
        self._patch(
            pipeline,
            "per_sink_counts",
            self._wrap_until_collect(pipeline.per_sink_counts, "plans.counts"),
        )
        cls = writer.SinkCatalog
        self._patch(cls, "commit", self._wrap(cls.commit, lambda a, k: "sinks.commit"))
        self._patch(cls, "compact", self._wrap(cls.compact, lambda a, k: "sinks.compact"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
