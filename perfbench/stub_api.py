"""Stub What Drops Now API: one server process serving a seeded catalog.

Run as ``python3 stub_api.py --seed N --brands B --products P --offers O
--retailers R --delay-ms D --error-rate E``. It binds an ephemeral port
on 127.0.0.1, prints ``PORT <n>`` and serves until it is terminated.

Every request sleeps a fixed ``--delay-ms``. A seeded share of request
keys (``--error-rate``) answers 503 on its first attempt in each phase,
so the client's retries are deterministic in number, not only in rate.
``GET /control/phase?epoch=E&phase=P`` (outside ``/api``) switches to
the prices of epoch E and to phase P's 503 draw.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from catalog import Catalog, _h, build_catalog


class StubState:
    def __init__(self, catalog: Catalog, delay_s: float, error_rate: float):
        self.catalog = catalog
        self.delay_s = delay_s
        self.error_permille = round(error_rate * 1000)
        self.lock = threading.Lock()
        self.epoch = 0
        self.phase = 0
        self.seen: set[str] = set()

    def set_phase(self, epoch: int, phase: int) -> None:
        with self.lock:
            self.epoch, self.phase = epoch, phase
            self.seen.clear()

    def transient_error(self, key: str) -> bool:
        """503 on the first attempt of a seeded share of keys."""
        with self.lock:
            if key in self.seen:
                return False
            self.seen.add(key)
            return (
                _h(self.catalog.seed, "503", self.phase, key) % 1000
                < self.error_permille
            )

    def handle(self, path: str, q: dict) -> tuple[int, dict]:
        cat = self.catalog
        page = int(q.get("page", ["1"])[0])
        size = int(q.get("page_size", ["20"])[0])
        parts = path.strip("/").split("/")
        if path == "/searches/brand_search":
            return 200, _paged(cat.search(q["q"][0]), page, size)
        if len(parts) == 3 and parts[0] == "brands" and parts[2] == "products":
            return 200, _paged(cat.product_page(int(parts[1])), page, size)
        if len(parts) == 3 and parts[0] == "products" and parts[2] == "offers":
            rows = cat.product_offers(int(parts[1]), self.epoch)
            if rows is None:
                return 404, {"error": "no such product"}
            return 200, {"data": rows}
        if len(parts) == 2 and parts[0] == "retailers":
            row = cat.retailer(int(parts[1]))
            if row is None:
                return 404, {"error": "no such retailer"}
            return 200, {"data": row}
        return 404, {"error": "bad path"}


def _paged(rows: list, page: int, size: int) -> dict:
    return {
        "data": rows[(page - 1) * size : page * size],
        "meta": {"page": {"total_count": len(rows), "current_page": page}},
    }


def make_handler(state: StubState):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"  # keep-alive: one connection per client thread

        def log_message(self, *args):
            pass

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            u = urlparse(self.path)
            q = parse_qs(u.query)
            if u.path == "/control/phase":
                state.set_phase(int(q["epoch"][0]), int(q["phase"][0]))
                return self._send(200, {"ok": True})
            if not u.path.startswith("/api/"):
                return self._send(404, {"error": "bad path"})
            time.sleep(state.delay_s)
            if state.transient_error(self.path):
                return self._send(503, {"error": "try again"})
            code, payload = state.handle(u.path.removeprefix("/api"), q)
            self._send(code, payload)

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--brands", type=int, required=True)
    ap.add_argument("--products", type=int, required=True)
    ap.add_argument("--offers", type=int, required=True)
    ap.add_argument("--retailers", type=int, required=True)
    ap.add_argument("--delay-ms", type=float, required=True)
    ap.add_argument("--error-rate", type=float, required=True)
    args = ap.parse_args()
    catalog = build_catalog(
        args.seed, args.brands, args.products, args.offers, args.retailers
    )
    state = StubState(catalog, args.delay_ms / 1000, args.error_rate)
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(state))
    server.daemon_threads = True
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever()
    finally:
        server.server_close()


if __name__ == "__main__":
    sys.exit(main())
