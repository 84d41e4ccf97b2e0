"""Span recorder for the traced run.

Spans are recorded from the benchmark's side only: wrappers around the
public functions of the engine's ``tables``, ``session``,
``sources.index_catalog`` and ``sources.versioned`` layers, plus the
harness's own query / build / plan / execute spans. The wrappers must
be installed before the operator modules are imported, because those
bind the layer functions with ``from ... import``.

Each span is ``(name, start, end, parent, query id)``; spans stay in
memory and are written out once, at the end of the run. A layer's self
time is its span time minus the time covered by its child spans
(children on one thread never overlap, so that is their summed time).
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JError

VERSIONED_WRITES = ("create", "append", "merge_into", "merge_full",
                    "delete_where", "delete_keys", "delete_partitions",
                    "delete_where_mor", "delete_keys_mor", "overwrite_partitions")
VERSIONED_READS = ("read", "read_pruned", "read_at")


class Recorder:
    """Spans and counters of one traced run. Layer functions may also be
    called from streaming callback threads, hence the lock and the
    per-thread span stacks."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent, qid, child_s]
        self.counts: dict[str, float] = defaultdict(float)
        self.qid: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] += n

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the block; yields a one-item list that
        holds the span's duration once the block has ended."""
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            parent = stack[-1] if stack else None
            self.spans.append([name, time.perf_counter(), None, parent, self.qid, 0.0])
        stack.append(idx)
        dur = [0.0]
        try:
            yield dur
        finally:
            stack.pop()
            with self._lock:
                span = self.spans[idx]
                span[2] = time.perf_counter()
                dur[0] = span[2] - span[1]
                if parent is not None:
                    self.spans[parent][5] += dur[0]

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            self.count(name + ".calls")
            if on_result is not None:
                on_result(out, args)
            return out

        return traced

    def layer_totals(self, since: int = 0) -> dict[str, tuple[float, float]]:
        """name -> (total seconds, self seconds) over spans[since:]."""
        out: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
        with self._lock:
            for name, start, end, _parent, _qid, child in self.spans[since:]:
                if end is not None:
                    out[name][0] += end - start
                    out[name][1] += end - start - child
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({
                "spans": [
                    {"name": n, "start": s, "end": e, "parent": p, "query": q}
                    for n, s, e, p, q, _c in self.spans
                ],
                **extra,
            }, fh)


def install(rec: Recorder) -> None:
    """Wrap the layer functions. Call before ``registry.all_queries()``."""
    from mapreduce_wordcounter_spark import session, tables
    from mapreduce_wordcounter_spark.sources import index_catalog, versioned

    def spread_width(out, args):
        # A spread that returns its input unchanged counts as width 1.
        width = 1
        if out is not args[1]:
            try:
                width = int(out._jdf.queryExecution().logical().numPartitions())
            except Py4JError:
                pass
        rec.count("tables.spread_width_sum", width)

    def lookup_hit(out, _args):
        if out is not None:
            rec.count("sources.index_catalog.lookup.hits")

    cache = tables._ROWS_CACHE
    rows = tables.table_rows

    def table_rows(spark, sf_dir, name):
        # A miss runs a count job and adds one cache entry.
        before = len(cache)
        out = rows(spark, sf_dir, name)
        rec.count("tables.table_rows.misses", len(cache) - before)
        return out

    tables.load_table = rec.wrap("tables.load_table", tables.load_table)
    tables.table_rows = rec.wrap("tables.table_rows", table_rows)
    tables.spread_narrow_scan = rec.wrap(
        "tables.spread_narrow_scan", tables.spread_narrow_scan, spread_width
    )
    session.pin = rec.wrap("session.pin", session.pin)
    index_catalog.lookup = rec.wrap(
        "sources.index_catalog.lookup", index_catalog.lookup, lookup_hit
    )
    index_catalog.publish = rec.wrap("sources.index_catalog.publish", index_catalog.publish)
    vt = versioned.VersionedTable
    for meth in VERSIONED_WRITES:
        setattr(vt, meth, rec.wrap("sources.versioned.write", getattr(vt, meth)))
    for meth in VERSIONED_READS:
        setattr(vt, meth, rec.wrap("sources.versioned.read", getattr(vt, meth)))


class StreamCounter:
    """StreamingQueryListener totals: micro-batches, addBatch time and
    the rest of each trigger (WAL, commit, planning). Spark delivers
    listener events one at a time."""

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.batches = 0
        self.add_batch_ms = 0.0
        self.other_ms = 0.0

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs or {}
                add = float(d.get("addBatch", 0))
                counter.batches += 1
                counter.add_batch_ms += add
                counter.other_ms += max(float(d.get("triggerExecution", 0)) - add, 0.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()
