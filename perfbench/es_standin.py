"""Stand-in for an Elasticsearch ``_bulk`` endpoint, run in its own process.

Listens on an ephemeral localhost port, prints the port on stdout, and keeps
per index the number of index actions received for each ``_id`` and the
wall-clock time each ``_id`` first arrived. Control endpoints (``/_stats``,
``/_ids``, ``/_arrivals``, ``/_drop``) let the benchmark check what reached
the sink. Run: ``python3 es_standin.py``; stop with SIGTERM.
"""

from __future__ import annotations

import json
import signal
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


class State:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.counts: dict[str, dict[str, int]] = {}
        self.arrivals: dict[str, dict[str, float]] = {}
        self.requests = 0
        self.docs = 0
        self.bytes = 0
        self.busy_s = 0.0
        self.failed = 0

    def bulk(self, body: bytes) -> bool:
        t0 = time.perf_counter()
        now = time.time()
        try:
            lines = body.decode("utf-8").splitlines()
            actions = [json.loads(line)["index"] for line in lines[0::2]]
            ok = len(lines) == 2 * len(actions)
        except (ValueError, KeyError, TypeError):
            ok = False
        with self.lock:
            self.requests += 1
            self.bytes += len(body)
            if ok:
                self.docs += len(actions)
                for a in actions:
                    index = a["_index"]
                    counts = self.counts.setdefault(index, {})
                    _id = a.get("_id")
                    counts[_id] = counts.get(_id, 0) + 1
                    self.arrivals.setdefault(index, {}).setdefault(_id, now)
            else:
                self.failed += 1
            self.busy_s += time.perf_counter() - t0
        return ok

    def stats(self) -> dict:
        with self.lock:
            return {
                "requests": self.requests,
                "docs": self.docs,
                "bytes": self.bytes,
                "busy_s": self.busy_s,
                "failed": self.failed,
            }


STATE = State()


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *args) -> None:  # keep stdout for the port line
        pass

    def _reply(self, code: int, payload) -> None:
        data = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_POST(self) -> None:
        url = urlparse(self.path)
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if url.path.endswith("/_bulk"):
            ok = STATE.bulk(body)
            self._reply(200 if ok else 400, {"errors": not ok})
        elif url.path == "/_drop":
            index = parse_qs(url.query)["index"][0]
            with STATE.lock:
                STATE.counts.pop(index, None)
                STATE.arrivals.pop(index, None)
            self._reply(200, {})
        else:
            self._reply(404, {})

    def do_GET(self) -> None:
        url = urlparse(self.path)
        index = parse_qs(url.query).get("index", [""])[0]
        if url.path == "/_stats":
            self._reply(200, STATE.stats())
        elif url.path == "/_ids":
            with STATE.lock:
                self._reply(200, dict(STATE.counts.get(index, {})))
        elif url.path == "/_arrivals":
            with STATE.lock:
                self._reply(200, dict(STATE.arrivals.get(index, {})))
        else:
            self._reply(404, {})


def main() -> None:
    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    signal.signal(signal.SIGTERM, lambda *_: threading.Thread(target=server.shutdown).start())
    print(server.server_address[1], flush=True)
    server.serve_forever()
    server.server_close()
    sys.exit(0)


if __name__ == "__main__":
    main()
