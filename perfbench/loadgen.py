"""Open-loop HTTP load over keep-alive connections.

Every request has a due time fixed before the run starts (Poisson
arrivals at a given rate, or all due at once for a closed burst).
A bounded pool of connections takes requests in due order. Each
record keeps four instants:

- ``due``: when the request should have been sent;
- ``free``: when a connection became free to take it;
- ``sent``: when it was actually sent;
- ``done``: when the full response was read.

Latency is ``done - due``, so time a request spent waiting for a
connection counts against the server (no coordinated omission).
``queue`` is ``max(0, free - due)``: waiting for a connection.
``late`` is ``sent - max(due, free)``: the generator's own timer slop.
``service`` is ``done - sent``: one request over the wire.
"""

from __future__ import annotations

import http.client
import json
import random
import threading
import time
from dataclasses import dataclass
from urllib.parse import quote


@dataclass
class Record:
    index: int
    due: float
    free: float = 0.0
    sent: float = 0.0
    done: float = 0.0
    ok: bool = False
    body: object = None

    @property
    def latency(self) -> float:
        return self.done - self.due

    @property
    def queue(self) -> float:
        return max(0.0, self.free - self.due)

    @property
    def late(self) -> float:
        return self.sent - max(self.due, self.free)

    @property
    def service(self) -> float:
        return self.done - self.sent


def poisson_due(rate: float, n: int, seed: int) -> list[float]:
    """Offsets (seconds from start) of ``n`` Poisson arrivals at ``rate``/s."""
    rng = random.Random(seed)
    t, out = 0.0, []
    for _ in range(n):
        t += rng.expovariate(rate)
        out.append(t)
    return out


def run(host: str, port: int, paths: list[str], due: list[float], conns: int) -> list[Record]:
    """Send GET ``paths[i]`` at offset ``due[i]``; return one Record each
    with the parsed JSON body (``None`` on any error)."""
    records = [Record(i, d) for i, d in enumerate(due)]
    order = sorted(range(len(records)), key=lambda i: records[i].due)
    lock = threading.Lock()
    cursor = [0]

    def worker() -> None:
        conn = http.client.HTTPConnection(host, port, timeout=30)
        try:
            while True:
                with lock:
                    if cursor[0] >= len(order):
                        return
                    r = records[order[cursor[0]]]
                    cursor[0] += 1
                r.free = time.perf_counter() - t0
                wait = r.due - r.free
                if wait > 0:
                    time.sleep(wait)
                r.sent = time.perf_counter() - t0
                try:
                    conn.request("GET", paths[r.index])
                    resp = conn.getresponse()
                    data = resp.read()
                    r.ok = resp.status == 200
                    r.body = json.loads(data) if r.ok else None
                except (OSError, http.client.HTTPException, ValueError):
                    conn.close()
                    conn = http.client.HTTPConnection(host, port, timeout=30)
                r.done = time.perf_counter() - t0
        finally:
            conn.close()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(max(1, conns))]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def search_path(q: str, k: int) -> str:
    return f"/search?q={quote(q)}&k={k}"


def backlog_grows(records: list[Record], limit_s: float) -> bool:
    """True when requests in the last third of the schedule waited for a
    connection more than ``limit_s`` longer than those in the first
    third (the queue did not drain at this rate)."""
    rs = sorted(records, key=lambda r: r.due)
    third = max(1, len(rs) // 3)
    head = sorted(r.queue for r in rs[:third])
    tail = sorted(r.queue for r in rs[-third:])
    return tail[len(tail) // 2] - head[len(head) // 2] > limit_s
