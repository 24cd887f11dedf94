"""A one-request HTTP origin on the loopback interface, for fetch
tests that must not leave the machine."""

from __future__ import annotations

import http.server
import threading
import time


def serve_once(body: bytes, stall_s: float = 0.0,
               name: str = "doc.txt") -> str:
    """Start a daemon thread that answers exactly one GET with
    ``body`` after sleeping ``stall_s`` seconds, then closes its
    socket. Returns the URL to fetch."""

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            time.sleep(stall_s)
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    # a client that gave up first (a stall test) breaks the write
    server.handle_error = lambda request, client_address: None

    def once():
        with server:
            server.handle_request()

    threading.Thread(target=once, daemon=True).start()
    return f"http://127.0.0.1:{server.server_port}/{name}"
