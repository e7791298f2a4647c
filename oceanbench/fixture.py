"""Loopback griddap server for the benchmark.

Answers real hyperslab URLs (`/griddap/<id>.csv?Var[t0:t1][d][y][x],...`)
from `gen.OceanField`, with faults keyed on a hash of the URL so they
repeat exactly for a seed:

- a share of URLs answer 503 on their first attempt only (transient);
- with `dead_points=True`, a smaller share of grid points always answer
  404 (the dead grid points `fetch_many` turns into NULL rows).

Requests are served by a fixed pool of worker threads, and each one is
logged as (url, arrival, finish, status, bytes) on the perf_counter clock.
A `file://` fixture cannot stand in for this: the program's fetcher drops
the query string of `file://` URLs, so every request would get one file.
"""

from __future__ import annotations

import threading
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, HTTPServer
from time import perf_counter

from oceanbench import gen

DATASET_ID = "oceanbench_grid"


@dataclass(frozen=True)
class Request:
    url: str
    arrival: float
    finish: float
    status: int
    bytes: int


class _PooledHTTPServer(HTTPServer):
    """HTTPServer that hands each connection to a bounded thread pool."""

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads, thread_name_prefix="griddap")

    def process_request(self, request, client_address):
        self.pool.submit(self._serve_one, request, client_address)

    def _serve_one(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 - one bad connection must not stop the server
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=True)


class ErddapFixture:
    """Start with `start()`, which returns the base URL; stop with `stop()`."""

    def __init__(self, seed: int, threads: int, dead_points: bool = False):
        self.seed = seed
        self.field = gen.OceanField(seed)
        self.dead_points = dead_points
        self.threads = threads
        self.log: list[Request] = []
        self._attempts: dict[str, int] = {}
        self._lock = threading.Lock()
        self._server: _PooledHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle --------------------------------------------------------

    def start(self) -> str:
        fixture = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - http.server naming
                fixture._handle(self)

            def log_message(self, *args):
                pass

        self._server = _PooledHTTPServer(("127.0.0.1", 0), Handler, self.threads)
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        kwargs={"poll_interval": 0.05}, daemon=True)
        self._thread.start()
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def stop(self) -> None:
        if self._server is None:
            return
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
        self._server = None

    # -- serving ------------------------------------------------------------

    def answer(self, path_query: str) -> tuple[int, str]:
        """Status and body for one request; records the attempt."""
        path, _, query = path_query.partition("?")
        if path != f"/griddap/{DATASET_ID}.csv":
            return 404, "Error: unknown dataset\n"
        try:
            slab = gen.parse_hyperslab(urllib.parse.unquote(query))
        except gen.BadRequest as e:
            return 400, f"Error: {e}\n"
        with self._lock:
            attempt = self._attempts.get(path_query, 0) + 1
            self._attempts[path_query] = attempt
        if self.dead_points and gen.is_dead_point(self.seed, slab.y, slab.x):
            return 404, "Error: Your query produced no matching results.\n"
        if attempt == 1 and gen.is_transient(self.seed, path_query):
            return 503, "Error: service busy, retry\n"
        return 200, gen.csv_body(self.field, slab)

    def _handle(self, h: BaseHTTPRequestHandler) -> None:
        arrival = perf_counter()
        status, text = self.answer(h.path)
        body = text.encode()
        h.send_response(status)
        h.send_header("Content-Type", "text/csv")
        h.send_header("Content-Length", str(len(body)))
        h.end_headers()
        h.wfile.write(body)
        finish = perf_counter()
        with self._lock:
            self.log.append(Request(h.path, arrival, finish, status, len(body)))
