"""Run the engine's fake Elasticsearch store (sinks.es_fake) in its own
process, so its JSON parsing does not share the benchmark driver's GIL.

es_fake is benchmark scaffolding: it stands in for a real cluster, and
a change that only makes it faster claims nothing about the engine.

Protocol: the process prints its base URL on stdout, then answers one
command per stdin line with one JSON line on stdout:

  stats   -> request / action / byte / busy-time counters
  state   -> counters plus every index's documents
  reset   -> empty the store (counters too)
  quit    -> shut down

Run as ``python3 perfbench/es_server.py`` from the repository root.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.getcwd())

from postgres_es_cdc_spark.sinks.es_fake import EsStore, serve_store  # noqa: E402


class TimedStore(EsStore):
    """EsStore that also counts bytes posted and time spent applying."""

    def __init__(self) -> None:
        super().__init__()
        self.busy_s = 0.0
        self.bytes_posted = 0
        self._count_lock = threading.Lock()

    def apply(self, method: str, path: str, body: str) -> None:
        t = time.perf_counter()
        try:
            super().apply(method, path, body)
        finally:
            with self._count_lock:
                self.busy_s += time.perf_counter() - t
                self.bytes_posted += len(body)

    def stats(self) -> dict:
        with self.lock:
            return {"requests": self.n_requests, "actions": self.n_actions,
                    "bytes_posted": self.bytes_posted,
                    "busy_s": self.busy_s,
                    "item_errors": len(self.item_errors)}


def main() -> None:
    holder = {"store": TimedStore()}

    class Proxy:
        # serve_store binds one store object; route through the holder
        # so "reset" can swap in a fresh one
        def apply(self, method, path, body):
            holder["store"].apply(method, path, body)

    url, shutdown = serve_store(Proxy())
    print(url, flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        store = holder["store"]
        if cmd == "stats":
            text = json.dumps(store.stats())
        elif cmd == "state":
            out = store.stats()
            with store.lock:
                out["indices"] = store.indices
                text = json.dumps(out)
        elif cmd == "reset":
            holder["store"] = TimedStore()
            text = "{}"
        else:
            break
        sys.stdout.write(text + "\n")
        sys.stdout.flush()
    shutdown()


if __name__ == "__main__":
    main()
