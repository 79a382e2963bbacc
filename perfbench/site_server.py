"""Loopback HTTP server for the crawl_resume_http workload.

Serves a generated site from memory on 127.0.0.1, answering at most
``max_conns`` requests at a time (further connections wait in the
listen backlog). It counts what it served, so the benchmark can tell a
failed fetch (a page the site has that was not answered 200) and split
fetch time into server time and client/IPC time.
"""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class SiteServer:
    def __init__(self, max_conns: int):
        self.pages: dict[str, bytes] = {}
        self._lock = threading.Lock()
        self._slots = threading.BoundedSemaphore(max_conns)
        self.reset_counters()
        owner = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):
                t0 = time.perf_counter()
                url = owner.root + (self.path if self.path != "/" else "")
                data = owner.pages.get(url)
                if data is None:
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                else:
                    self.send_response(200)
                    self.send_header("Content-Type", "text/html; charset=utf-8")
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                owner._record(url, data, time.perf_counter() - t0)

            def log_message(self, *args):
                pass

        class Server(ThreadingHTTPServer):
            daemon_threads = True
            request_queue_size = 128

            def process_request(self, request, client_address):
                owner._slots.acquire()
                try:
                    super().process_request(request, client_address)
                except BaseException:
                    owner._slots.release()
                    raise

            def process_request_thread(self, request, client_address):
                try:
                    super().process_request_thread(request, client_address)
                finally:
                    owner._slots.release()

        self._httpd = Server(("127.0.0.1", 0), Handler)
        self.root = f"http://127.0.0.1:{self._httpd.server_address[1]}"
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    def _record(self, url: str, data: bytes | None, busy_s: float) -> None:
        with self._lock:
            self.busy_s += busy_s
            if data is not None:
                self.ok_urls.add(url)
                self.bytes_sent += len(data)

    def reset_counters(self) -> None:
        with self._lock:
            self.busy_s = 0.0
            self.bytes_sent = 0
            self.ok_urls: set[str] = set()

    def snapshot(self) -> tuple[float, int]:
        """(handler busy seconds, bytes sent) so far."""
        with self._lock:
            return self.busy_s, self.bytes_sent

    def serve(self, site: dict[str, str]) -> None:
        self.pages = {u: b.encode("utf-8") for u, b in site.items()}

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)
