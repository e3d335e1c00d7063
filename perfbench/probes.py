"""Timed wrappers around the stream layers' public factories.

Spark calls these inside its Python worker processes (the streaming
source runner and the executors' tasks), so they record spans by
appending one JSON line per call to a file of their own under
``span_dir``; the benchmark reads the files after the run. This module
must stay importable from ``PYTHONPATH`` alone, with no state created
at import.
"""

from __future__ import annotations

import json
import os
import time

from streamclient_spark.sources.transport import file_journal_transport
from streamclient_spark.streaming.sinks import collecting_publisher_factory


def _append(span_dir: str, layer: str, record: dict) -> None:
    path = os.path.join(span_dir, f"{layer}-{os.getpid()}.jsonl")
    with open(path, "a", encoding="utf-8") as f:
        f.write(json.dumps(record) + "\n")


class _TracedTransport:
    def __init__(self, inner, span_dir: str):
        self._inner = inner
        self._span_dir = span_dir

    def latest(self) -> dict[int, int]:
        t0 = time.time()
        ends = self._inner.latest()
        _append(self._span_dir, "transport", {
            "name": "transport.latest", "start": t0, "end": time.time(),
            "rows": sum(ends.values()),
        })
        return ends

    def fetch(self, shard: int, lo: int, hi: int):
        t0 = time.time()
        n = 0
        for row in self._inner.fetch(shard, lo, hi):
            n += 1
            yield row
        _append(self._span_dir, "transport", {
            "name": "transport.fetch", "start": t0, "end": time.time(),
            "rows": n, "shard": shard,
        })


def traced_journal_transport(options: dict) -> _TracedTransport:
    """Drop-in for ``file_journal_transport`` (pass it as the source's
    ``transport`` option, with a ``span_dir`` option)."""
    return _TracedTransport(file_journal_transport(options), options["span_dir"])


class TracedPublisherFactory:
    """Picklable publisher factory delegating to
    ``collecting_publisher_factory(out_dir)``; each publish call is one
    ``bus.publish`` span carrying its payload count."""

    def __init__(self, out_dir: str, span_dir: str):
        self.out_dir = out_dir
        self.span_dir = span_dir

    def __call__(self):
        inner = collecting_publisher_factory(self.out_dir)()

        def publish(payloads: list[bytes]) -> None:
            t0 = time.time()
            inner(payloads)
            _append(self.span_dir, "bus", {
                "name": "bus.publish", "start": t0, "end": time.time(),
                "rows": len(payloads),
            })

        return publish


def read_spans(span_dir: str, layer: str) -> list[dict]:
    out: list[dict] = []
    if not os.path.isdir(span_dir):
        return out
    for name in sorted(os.listdir(span_dir)):
        if name.startswith(layer + "-") and name.endswith(".jsonl"):
            with open(os.path.join(span_dir, name), encoding="utf-8") as f:
                out.extend(json.loads(line) for line in f if line.strip())
    return out
