"""Local SPARQL + TMDB stub server for the ``reconcile`` workload.

Runs as its own process: ``python3 perfbench/stub.py DATA_DIR PORT_FILE``.
It binds an ephemeral port on 127.0.0.1, writes the port to PORT_FILE and
serves until terminated. DATA_DIR is the generator's reconcile input
directory; the stub reads ``stub.json`` there:

- ``service_ms``: fixed service time per request kind (``sparql``, ``tmdb``);
- ``sparql``: query name -> CSV file; a query names its result set with a
  ``#perfbench:<name>`` marker;
- ``tmdb_movie_ids``: the ids ``/3/movie/<id>`` resolves (others are 404);
- ``flaky``: request keys that answer 503 once per pass, then succeed, so
  the client retry path runs a fixed number of times per pass.

Control endpoints (not logged): ``POST /__pass`` arms the flaky keys for a
new pass; ``GET /__log`` returns and clears the request log, one
``[kind, key, status, start_s, end_s]`` entry per request, on the stub's clock.
"""

from __future__ import annotations

import json
import os
import re
import socket
import sys
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_MARKER = re.compile(r"#perfbench:(\w+)")
_MOVIE = re.compile(r"^/3/movie/(\d+)$")


class StubState:
    def __init__(self, data_dir: str) -> None:
        with open(os.path.join(data_dir, "stub.json")) as fh:
            cfg = json.load(fh)
        self.service_s = {k: v / 1000.0 for k, v in cfg["service_ms"].items()}
        self.sparql = {}
        for name, fname in cfg["sparql"].items():
            with open(os.path.join(data_dir, fname), "rb") as fh:
                self.sparql[name] = fh.read()
        self.movie_ids = set(cfg["tmdb_movie_ids"])
        self.flaky = set(cfg["flaky"])
        self.lock = threading.Lock()
        self.armed: set[str] = set()
        self.log: list[list] = []

    def fail_once(self, key: str) -> bool:
        with self.lock:
            if key in self.armed:
                self.armed.discard(key)
                return True
            return False


def make_handler(state: StubState) -> type[BaseHTTPRequestHandler]:
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def setup(self) -> None:
            super().setup()
            # headers and body go out as separate writes: without NODELAY,
            # Nagle + delayed ACK stalls every keep-alive response ~40 ms
            self.connection.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

        def log_message(self, *args: object) -> None:
            pass

        def _send(self, status: int, body: bytes, ctype: str) -> None:
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _serve(self, kind: str, key: str, answer) -> None:
            t0 = time.monotonic()
            time.sleep(state.service_s[kind])
            if key in state.flaky and state.fail_once(key):
                status, body, ctype = 503, b"busy", "text/plain"
            else:
                status, body, ctype = answer()
            self._send(status, body, ctype)
            with state.lock:
                state.log.append([kind, key, status, t0, time.monotonic()])

        def do_GET(self) -> None:  # noqa: N802
            path = urllib.parse.urlsplit(self.path).path
            if path == "/__log":
                with state.lock:
                    body = json.dumps(state.log).encode()
                    state.log = []
                self._send(200, body, "application/json")
                return
            m = _MOVIE.match(path)
            if m is None:
                self._send(404, b"{}", "application/json")
                return
            mid = int(m.group(1))

            def answer():
                if mid in state.movie_ids:
                    return 200, json.dumps({"id": mid}).encode(), "application/json"
                return 404, b'{"status_code": 34}', "application/json"

            self._serve("tmdb", f"movie/{mid}", answer)

        def do_POST(self) -> None:  # noqa: N802
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n)
            if self.path == "/__pass":
                with state.lock:
                    state.armed = set(state.flaky)
                self._send(200, b"{}", "application/json")
                return
            query = urllib.parse.parse_qs(raw.decode()).get("query", [""])[0]
            m = _MARKER.search(query)
            name = m.group(1) if m else ""

            def answer():
                if name not in state.sparql:
                    return 400, b"unknown query", "text/plain"
                return 200, state.sparql[name], "text/csv"

            self._serve("sparql", f"sparql/{name}", answer)

    return Handler


def main(argv: list[str]) -> int:
    data_dir, port_file = argv[1], argv[2]
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(StubState(data_dir)))
    server.daemon_threads = True
    tmp = port_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(server.server_address[1]))
    os.replace(tmp, port_file)
    try:
        server.serve_forever(poll_interval=0.2)
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
