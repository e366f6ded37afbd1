"""Loopback data-key service (DKS) stub.

Serves ``POST /datakey/actions/decrypt?keyId=<id>`` with the encrypted
key as the body, the contract ``HttpKeyService`` speaks. Each reply is
sent after a fixed ``DELAY_S`` that models the round trip to a remote
key service. The stub runs one ``http.server`` thread in the calling
process and counts what it served.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

DELAY_S = 0.01


class DksStub:
    """Start with ``start()``, stop with ``stop()`` (or use ``with``)."""

    def __init__(self, data_keys: dict[str, str]):
        self.data_keys = data_keys
        self._lock = threading.Lock()
        self.calls = 0
        self.retries = 0  # requests for a (keyId, key) already served
        self.wait_s = 0.0  # service time summed over requests
        self._seen: set[tuple[str, str]] = set()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (http.server API)
                t0 = time.perf_counter()
                url = urlparse(self.path)
                key_id = parse_qs(url.query).get("keyId", [""])[0]
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                encrypted = body.decode("utf-8")
                plain = stub.data_keys.get(encrypted)
                time.sleep(DELAY_S)
                if url.path != "/datakey/actions/decrypt" or plain is None:
                    self.send_response(400)
                    self.end_headers()
                else:
                    out = json.dumps({"dataKeyEncryptionKeyId": key_id,
                                      "plaintextDataKey": plain}).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(out)))
                    self.end_headers()
                    self.wfile.write(out)
                with stub._lock:
                    stub.calls += 1
                    if (key_id, encrypted) in stub._seen:
                        stub.retries += 1
                    stub._seen.add((key_id, encrypted))
                    stub.wait_s += time.perf_counter() - t0

            def log_message(self, format, *args):  # noqa: A002
                pass

        self._server = HTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        name="dks-stub", daemon=True)

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def counters(self) -> tuple[int, int, float]:
        """(calls, retries, wait_s) so far."""
        with self._lock:
            return self.calls, self.retries, self.wait_s

    def reset_seen(self) -> None:
        """Forget served keys: each import resolves its keys afresh."""
        with self._lock:
            self._seen.clear()

    def start(self) -> "DksStub":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def __enter__(self) -> "DksStub":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
