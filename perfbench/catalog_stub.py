"""SciCat catalog stub, run as its own process.

    python3 perfbench/catalog_stub.py --port-file PATH

Serves on loopback:

- ``POST /datasets``: 201 for a new ``pid``, 409 for a known one; the
  first payload per pid is stored;
- ``GET /datasets``: every stored payload, as a JSON list;
- ``GET /stats``: connections accepted, POSTs, conflicts.

Connections are handled by a fixed pool of one thread per usable core,
so every partition-parallel posting task of ``local[<cores>]`` has a
handler thread. The bound port is written to ``--port-file`` once the
socket listens.
"""

from __future__ import annotations

import argparse
import json
import os
import socketserver
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler


class Catalog:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.datasets: dict[str, dict] = {}
        self.stats = {"connections": 0, "posts": 0, "conflicts": 0}


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    catalog: Catalog

    def log_message(self, *args) -> None:  # keep stderr quiet
        pass

    def _reply(self, status: int, body: object) -> None:
        raw = json.dumps(body).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(raw)))
        self.end_headers()
        self.wfile.write(raw)

    def do_POST(self) -> None:
        length = int(self.headers.get("Content-Length", 0))
        payload = json.loads(self.rfile.read(length))
        cat = self.catalog
        pid = payload.get("pid")
        if self.path.rstrip("/") != "/datasets" or not pid:
            self._reply(400, {"error": "expected POST /datasets with a pid"})
            return
        with cat.lock:
            cat.stats["posts"] += 1
            known = pid in cat.datasets
            if known:
                cat.stats["conflicts"] += 1
            else:
                cat.datasets[pid] = payload
        self._reply(409 if known else 201, {"pid": pid})

    def do_GET(self) -> None:
        cat = self.catalog
        with cat.lock:
            if self.path == "/stats":
                body: object = dict(cat.stats)
            elif self.path.rstrip("/") == "/datasets":
                body = list(cat.datasets.values())
            else:
                self._reply(404, {"error": self.path})
                return
        self._reply(200, body)


class PoolServer(socketserver.TCPServer):
    """TCP server whose connections run on a fixed thread pool."""

    allow_reuse_address = True

    def __init__(self, addr, handler, catalog: Catalog, threads: int):
        super().__init__(addr, handler)
        self.catalog = catalog
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address) -> None:
        with self.catalog.lock:
            self.catalog.stats["connections"] += 1
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--port-file", required=True)
    args = ap.parse_args()
    catalog = Catalog()
    Handler.catalog = catalog
    server = PoolServer(("127.0.0.1", 0), Handler, catalog, len(os.sched_getaffinity(0)))
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(server.server_address[1]))
    os.replace(tmp, args.port_file)
    try:
        server.serve_forever()
    finally:
        server.pool.shutdown(wait=False)
        server.server_close()


if __name__ == "__main__":
    main()
