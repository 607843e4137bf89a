"""Spans and the traced run's hooks into the program's layers.

Everything here wraps the program's public entry points from the
outside; nothing in the package is edited:

- ``Tracer`` keeps spans (name, start, end, parent) in memory;
- ``layer_hooks`` replaces ``load_table`` and the derived-cache
  registry calls (``_cached_table``/``_pair_graph``) with wrappers that
  open a span around the original, for the span of a ``with`` block;
- ``ProgressRecorder`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress record;
- ``event_log`` writes Spark's own event log (uncompressed, one file)
  for the span of a ``with`` block, by attaching an
  ``EventLoggingListener`` to the running context.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans. Times are seconds since the tracer was made;
    ``epoch_ms`` converts one to wall-clock milliseconds so spans can be
    matched with Spark's event-log and progress timestamps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()
        self._wall0 = time.time()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def epoch_ms(self, t: float) -> int:
        return int((self._wall0 + t) * 1000)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": self.now(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._open.pop()

    def children(self, parent_id: int) -> list[dict]:
        """Every span below ``parent_id``, at any depth."""
        below, frontier = [], {parent_id}
        for s in self.spans[parent_id + 1 :]:
            if s["parent"] in frontier:
                below.append(s)
                frontier.add(s["id"])
        return below


@contextmanager
def layer_hooks(entrymod, tracer: Tracer):
    """Open a span around every ``load_table`` and derived-cache call.

    ``load_table`` is rebound in every loaded module that imported it by
    name; modules that import it inside a function read the rebound
    attribute of ``sources.tables``. A cache span records ``hit`` when
    the registry did not grow: a miss adds an entry.
    """
    from mapreduce_golang_spark.sources import tables

    original_load = tables.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span(f"load_table:{name}"):
            return original_load(spark, sf_dir, name)

    rebound = [m for m in list(sys.modules.values()) if getattr(m, "load_table", None) is original_load]
    for mod in rebound:
        mod.load_table = load_table

    original_cached = entrymod._cached_table
    original_pair_graph = entrymod._pair_graph

    def _cached_table(spark, sf_dir, what, build):
        before = len(entrymod._DERIVED_CACHE)
        with tracer.span(f"cache:{what}") as rec:
            df = original_cached(spark, sf_dir, what, build)
            rec["hit"] = len(entrymod._DERIVED_CACHE) == before
        return df

    def _pair_graph(spark, sf_dir):
        before = len(entrymod._PAIR_GRAPH_CACHE)
        with tracer.span("cache:pair_graph") as rec:
            df = original_pair_graph(spark, sf_dir)
            rec["hit"] = len(entrymod._PAIR_GRAPH_CACHE) == before
        return df

    entrymod._cached_table = _cached_table
    entrymod._pair_graph = _pair_graph
    try:
        yield
    finally:
        for mod in rebound:
            mod.load_table = original_load
        entrymod._cached_table = original_cached
        entrymod._pair_graph = original_pair_graph


class ProgressRecorder(StreamingQueryListener):
    """Keeps the JSON of every micro-batch progress event."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@contextmanager
def event_log(spark, directory: str):
    """Spark's event log of everything inside the block, in ``directory``."""
    jsc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm
    conf = (
        jsc.conf()
        .clone()
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
    )
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        jsc.applicationId(),
        jsc.applicationAttemptId(),
        jvm.java.net.URI("file://" + directory),
        conf,
        jsc.hadoopConfiguration(),
    )
    listener.start()
    jsc.addSparkListener(listener)
    try:
        yield
    finally:
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(listener)
        listener.stop()


def drain_listener_bus(spark) -> None:
    """Block until Spark has delivered every posted listener event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
