"""Stub of the challenge API that the reference pipeline ingests from.

Serves, behind Bearer auth:

* ``GET /download/accounts.csv`` and ``GET /download/clients.csv``;
* ``GET /transactions?page=P&limit=L`` — JSON pages of ``PAGE_LIMIT``
  rows, even pages wrapped in ``{"results": [...]}``, odd pages bare arrays
  (both forms the reference unwraps, main.py:107-108); pages past the feed
  are empty lists;
* ``GET /_stats`` (no auth) — the request counters since the previous
  ``/_stats`` call, as JSON.

Every body is rendered before the server accepts a connection, so serving
costs one dictionary lookup. Requests are handled by a fixed pool of at most
``--threads`` threads.

The data comes from :func:`generate`, seeded: distinct realistic
``(timestamp, account_id)`` keys over three months, a fixed share of
duplicated keys with different amounts, garbage and null amounts, and
transactions on account ids no account owns. These are the kinds of dirt
the reference pipeline handles (keep-first dedup, main.py:123; invalid and
null amounts to 0, main.py:124-125). Their shares below, and the 0-3
accounts per client, are invented: the reference states none of them.

Run as its own process::

    python3 perfbench/stub_api.py --seed 1 --pages 301 --token T --threads 4 [--dump feed.json]

It prints ``PORT <n>`` on stdout once it is listening (and ``--dump`` is
written).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import random
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

PAGE_LIMIT = 1000
# invented shares (see the module docstring)
DUPLICATE_SHARE = 0.05
GARBAGE_SHARE = 0.02
NULL_SHARE = 0.01
ORPHAN_SHARE = 0.02
GARBAGE = ("N/A", "", "abc", "12,50", "--")


def generate(seed: int, pages: int) -> dict:
    """Seeded reference-shaped inputs: ``clients``, ``accounts`` (lists of
    dicts) and ``transactions`` (dicts in feed order) for ``pages`` full
    pages."""
    rng = random.Random(seed)
    n_tx = pages * PAGE_LIMIT
    n_clients = max(50, n_tx // 150)
    clients = [
        {
            "client_id": f"C{i:06d}",
            "client_name": f"Client {i}",
            "client_email": f"client{i}@example.com",
            "client_birth_date": (
                dt.date(1950, 1, 1) + dt.timedelta(days=rng.randrange(20000))
            ).isoformat(),
        }
        for i in range(n_clients)
    ]
    accounts = []
    for c in clients:  # 0-3 accounts per client; clients with none drop out of joins
        for _ in range(rng.randrange(4)):
            accounts.append({"account_id": len(accounts) + 1, "client_id": c["client_id"]})
    n_acc = len(accounts)
    start = dt.datetime(2024, 1, 1)
    seen: set[tuple[str, int]] = set()
    tx: list[dict] = []
    for i in range(n_tx):
        if tx and rng.random() < DUPLICATE_SHARE:
            # same key as an earlier row, different amount: keep-first decides
            prev = tx[rng.randrange(len(tx))]
            ts, acc = prev["timestamp"], prev["account_id"]
        else:
            while True:
                ts = (start + dt.timedelta(seconds=rng.randrange(91 * 86400))).isoformat()
                if rng.random() < ORPHAN_SHARE:
                    acc = n_acc + 1 + rng.randrange(1000)
                else:
                    acc = rng.randrange(1, n_acc + 1)
                if (ts, acc) not in seen:
                    break
            seen.add((ts, acc))
        r = rng.random()
        if r < NULL_SHARE:
            amount = None
        elif r < NULL_SHARE + GARBAGE_SHARE:
            amount = rng.choice(GARBAGE)
        else:
            amount = f"{rng.randrange(1, 500000) / 100:.2f}"
        tx.append(
            {
                "transaction_id": i + 1,
                "timestamp": ts,
                "account_id": acc,
                "amount": amount,
                "type": rng.choice(("debit", "dep", "wd")),  # the sink column is VARCHAR(5)
                "medium": rng.choice(("card", "online", "atm")),
            }
        )
    return {"clients": clients, "accounts": accounts, "transactions": tx}


def _csv(rows: list[dict], cols: list[str]) -> bytes:
    lines = [",".join(cols)] + [",".join(str(r[c]) for c in cols) for r in rows]
    return ("\n".join(lines) + "\n").encode()


def render(data: dict) -> dict[str, bytes]:
    """Every response body, keyed by request path (pages keyed by number)."""
    bodies = {
        "/download/accounts.csv": _csv(data["accounts"], ["account_id", "client_id"]),
        "/download/clients.csv": _csv(
            data["clients"],
            ["client_id", "client_name", "client_email", "client_birth_date"],
        ),
    }
    tx = data["transactions"]
    for page in range(0, (len(tx) + PAGE_LIMIT - 1) // PAGE_LIMIT):
        records = tx[page * PAGE_LIMIT : (page + 1) * PAGE_LIMIT]
        payload = {"results": records} if page % 2 == 0 else records
        bodies[f"page:{page}"] = json.dumps(payload).encode()
    return bodies


class StubServer(HTTPServer):
    """HTTP server with a bounded worker pool and request counters."""

    daemon_threads = True

    def __init__(self, bodies: dict[str, bytes], token: str, threads: int):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.bodies = bodies
        self.token = token
        self.pool = ThreadPoolExecutor(max_workers=threads)
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.served: dict[int, int] = {}
        self.stats = {"requests": 0, "retries": 0, "past_end": 0, "pages_with_rows": 0}

    def process_request(self, request, client_address):
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except OSError:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def count_page(self, page: int, has_rows: bool) -> None:
        with self.lock:
            self.stats["requests"] += 1
            if self.served.get(page):
                self.stats["retries"] += 1
            self.served[page] = self.served.get(page, 0) + 1
            if has_rows:
                self.stats["pages_with_rows"] += 1
            else:
                self.stats["past_end"] += 1


class _Handler(BaseHTTPRequestHandler):
    server: StubServer

    def log_message(self, *args):
        pass

    def _send(self, code: int, body: bytes, ctype: str = "application/json"):
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802
        url = urlparse(self.path)
        if url.path == "/_stats":
            with self.server.lock:
                body = json.dumps(self.server.stats).encode()
                self.server.reset()
            self._send(200, body)
            return
        if self.headers.get("Authorization") != f"Bearer {self.server.token}":
            self._send(401, b'{"error": "unauthorized"}')
            return
        if url.path == "/transactions":
            page = int(parse_qs(url.query).get("page", ["0"])[0])
            body = self.server.bodies.get(f"page:{page}")
            self.server.count_page(page, body is not None)
            self._send(200, body if body is not None else b"[]")
            return
        body = self.server.bodies.get(url.path)
        if body is None:
            self._send(404, b"{}")
        else:
            self._send(200, body, "text/csv")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pages", type=int, required=True)
    ap.add_argument("--token", required=True)
    ap.add_argument("--threads", type=int, default=4)
    ap.add_argument("--dump", help="also write the generated data to this JSON file")
    args = ap.parse_args()
    data = generate(args.seed, args.pages)
    if args.dump:
        with open(args.dump, "w") as f:
            json.dump(data, f)
    server = StubServer(render(data), args.token, args.threads)
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever()
    finally:
        server.pool.shutdown(wait=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
