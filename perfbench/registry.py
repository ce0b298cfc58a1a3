"""Local Confluent-style schema registry for the benchmark.

Run as its own process: ``python3 perfbench/registry.py SCHEMAS.json``.
It binds an ephemeral port on 127.0.0.1 and prints ``PORT <n>`` as its
first stdout line.

- ``GET /schemas/ids/{id}`` answers ``{"schema": "<text>"}`` or 404, the way
  the Confluent REST API does.
- ``GET /_stats`` returns what the server counted since the last reset:
  fetches by id, 404s, and the server-side time of each lookup in ms.
- ``POST /_reset`` clears those counters.

The counters are the outside-in source of the ``schema_store.*`` metrics:
they see every lookup the engine's ``HttpSchemaRegistry`` makes, from every
Python worker, without touching the engine.
"""

from __future__ import annotations

import json
import sys
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

_PREFIX = "/schemas/ids/"


class _Stats:
    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.fetches: dict[int, int] = {}
        self.not_found = 0
        self.fetch_ms: list[float] = []

    def record(self, schema_id: int, found: bool, ms: float) -> None:
        self.fetches[schema_id] = self.fetches.get(schema_id, 0) + 1
        if not found:
            self.not_found += 1
        self.fetch_ms.append(ms)

    def snapshot(self) -> dict:
        return {
            "fetches": {str(k): v for k, v in self.fetches.items()},
            "not_found": self.not_found,
            "fetch_ms": list(self.fetch_ms),
        }


def make_handler(schemas: dict[int, str], stats: _Stats):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def _send(self, code: int, obj: dict) -> None:
            body = json.dumps(obj).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/vnd.schemaregistry.v1+json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 — http.server naming
            t0 = time.perf_counter()
            if self.path == "/_stats":
                self._send(200, stats.snapshot())
                return
            if not self.path.startswith(_PREFIX):
                self._send(404, {"error_code": 404, "message": "Not found"})
                return
            try:
                sid = int(self.path[len(_PREFIX):])
            except ValueError:
                self._send(404, {"error_code": 404, "message": "Not found"})
                return
            text = schemas.get(sid)
            if text is None:
                self._send(404, {"error_code": 40403, "message": "Schema not found"})
            else:
                self._send(200, {"schema": text})
            stats.record(sid, text is not None, (time.perf_counter() - t0) * 1e3)

        def do_POST(self) -> None:  # noqa: N802
            if self.path == "/_reset":
                stats.reset()
                self._send(200, {})
            else:
                self._send(404, {"error_code": 404, "message": "Not found"})

        def log_message(self, *args) -> None:  # silence per-request logging
            pass

    return Handler


def main(argv: list[str]) -> int:
    with open(argv[1], encoding="utf-8") as f:
        schemas = {int(k): v for k, v in json.load(f).items()}
    # one thread: the engine's client closes the connection after each
    # lookup, and a thread per connection cost about 1 s of scheduling per
    # stream_mixed drain on 4 vCPUs, the stand-in's cost rather than the
    # engine's
    server = HTTPServer(("127.0.0.1", 0), make_handler(schemas, _Stats()))
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
