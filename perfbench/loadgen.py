"""Closed-loop HTTP load generator (one process, one thread and one
connection per client).

Each client sends its next request only when its previous one has
answered, so a slow server receives less load. Requests come from the
seeded stream for the workload, in order, shared by all clients. Every
non-200 status, timeout and exception counts as a failed request; nothing
is retried.

    python3 perfbench/loadgen.py --workload snapshot_map --seed 1 \
        --port 8080 --clients 4 --seconds 10 --inputs DIR --out FILE
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlencode

import gate
import workloads as W

REQUEST_TIMEOUT_S = 60.0
#: hard cap on a run, whatever --min-requests asks
MAX_SECONDS = 120.0
#: how many responses per run are kept for the DuckDB recomputation
SAMPLED_BODIES = 16
#: untimed requests per client before the measured loop, so that the first
#: measured answers do not pay the server's one-time warm-up (JVM JIT,
#: first query compilation). They come from a stream of their own seed with
#: the measured stream's shapes, so none of them repeats a measured request.
WARMUP_PER_CLIENT = 1
WARMUP_SEED_OFFSET = 1_000_003


def request_path(req: dict, rid: int) -> str:
    params = dict(req["params"], rid=str(rid))
    return (f"/api/airquality/{req['metric']}/aggregate/{req['aggregate']}"
            f"/{req['shape']}?{urlencode(params)}")


class ClosedLoop:
    """`clients` threads draining one shared request stream until `stop`
    says so. `send(req, rid)` returns (status, body bytes)."""

    def __init__(self, requests, clients: int, send, stop):
        self.requests = requests
        self.clients = clients
        self.send = send
        self.stop = stop
        self.records: list[dict] = []
        self.in_flight = 0
        self.max_in_flight = 0
        self._next = 0
        self._lock = threading.Lock()

    def _take(self):
        with self._lock:
            if self.stop() or self._next >= len(self.requests):
                return None
            i = self._next
            self._next += 1
            self.in_flight += 1
            self.max_in_flight = max(self.max_in_flight, self.in_flight)
            return i

    def _client(self):
        while (i := self._take()) is not None:
            t0 = time.perf_counter()
            try:
                status, body = self.send(self.requests[i], i)
                err = None
            except Exception as exc:  # noqa: BLE001 — any failure is counted
                status, body, err = None, b"", f"{type(exc).__name__}: {exc}"
            t1 = time.perf_counter()
            with self._lock:
                self.in_flight -= 1
                self.records.append({"i": i, "ms": (t1 - t0) * 1000.0,
                                     "status": status, "bytes": len(body),
                                     "error": err, "body": body})

    def run(self) -> list[dict]:
        threads = [threading.Thread(target=self._client, daemon=True)
                   for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return sorted(self.records, key=lambda r: r["i"])


def http_sender(port: int):
    def send(req: dict, rid: int):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
        try:
            conn.request("GET", request_path(req, rid))
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()
    return send


def recheck(reqs: list[dict], send, seed: int, clients: int) -> list[dict]:
    """Re-issue a seeded sample of `reqs` from `clients` threads and keep
    the answers for the DuckDB check. Used once the store no longer
    changes."""
    pick = random.Random(f"recheck:{seed}")
    chosen = sorted(pick.sample(range(len(reqs)), min(SAMPLED_BODIES, len(reqs))))

    def one(k: int) -> dict:
        i = chosen[k]
        doc, err = None, None
        try:
            status, body = send(reqs[i], f"check-{k}")
            if status != 200:
                err = f"HTTP {status}"
            else:
                doc = json.loads(body)
                err = gate.shape_error(reqs[i], doc)
        except Exception as exc:  # noqa: BLE001 — reported as a gate failure
            err = f"{type(exc).__name__}: {exc}"
        return {"request": reqs[i], "data": None if err else doc["data"], "error": err}

    with ThreadPoolExecutor(max_workers=clients) as pool:
        return list(pool.map(one, range(len(chosen))))


def build_requests(workload: str, seed: int, inputs: str, n: int) -> list[dict]:
    with open(os.path.join(inputs, "geo.json")) as f:
        spec = W.GeoSpec.from_json(f.read())
    with open(os.path.join(inputs, "cells.json")) as f:
        cells = {int(k): v for k, v in json.load(f).items()}
    if workload == "snapshot_map":
        return W.snapshot_requests(seed, spec, n)
    if workload == "history_series":
        return W.history_requests(seed, cells, n)
    return W.live_requests(seed, spec, cells, n)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--clients", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-requests", type=int, default=0,
                    help="keep going past --seconds until this many have answered")
    ap.add_argument("--stop-file", default=None,
                    help="stop early once this file exists")
    ap.add_argument("--go-file", default=None,
                    help="create this file once the warm-up is done")
    args = ap.parse_args()
    if not 1 <= args.clients <= (os.cpu_count() or 1):
        raise SystemExit("clients must be between 1 and nproc")

    reqs = build_requests(args.workload, args.seed, args.inputs, 5000)
    send = http_sender(args.port)
    warm = build_requests(args.workload, args.seed + WARMUP_SEED_OFFSET, args.inputs,
                          WARMUP_PER_CLIENT * args.clients)
    warm_send = lambda req, i: send(req, f"warm-{i}")  # noqa: E731 — own span ids
    bad = [r for r in ClosedLoop(warm, args.clients, warm_send, lambda: False).run()
           if r["status"] != 200]
    if bad:
        raise SystemExit(f"warm-up request failed: {bad[0]['error'] or bad[0]['status']}")
    if args.go_file is not None:
        with open(args.go_file, "w"):
            pass
    start = time.perf_counter()

    def stop():
        now = time.perf_counter() - start
        if args.stop_file is not None and os.path.exists(args.stop_file):
            return True
        done = len(loop.records) >= args.min_requests
        return now >= MAX_SECONDS or (now >= args.seconds and done)

    loop = ClosedLoop(reqs, args.clients, send, stop)
    records = loop.run()
    elapsed = time.perf_counter() - start

    pick = random.Random(f"sample:{args.seed}")
    shape_errors = []
    sampled = []
    for r in records:
        body = r.pop("body")
        req = reqs[r["i"]]
        if r["status"] != 200:
            r["error"] = r["error"] or body[:300].decode(errors="replace")
            continue
        try:
            doc = json.loads(body)
        except ValueError:
            doc = None
        err = gate.shape_error(req, doc)
        if err:
            shape_errors.append({"i": r["i"], "error": err})
        r["rows"] = len(doc["data"]) if not err else 0
        if (args.stop_file is None and not err and len(sampled) < SAMPLED_BODIES
                and pick.random() < 0.25):
            sampled.append({"request": req, "data": doc["data"], "error": None})
    if args.stop_file is not None and os.path.exists(args.stop_file):
        # answers given during the drain read versions that later commits
        # replaced; after the drain the store is final, so the DuckDB check
        # re-issues a sample of the stream against it (outside the timing)
        sampled = recheck([reqs[r["i"]] for r in records], send, args.seed, args.clients)
    with open(args.out, "w") as f:
        json.dump({"elapsed_s": elapsed, "records": records,
                   "max_in_flight": loop.max_in_flight,
                   "repeat_share": W.repeat_share([reqs[r["i"]] for r in records]),
                   "requests": [reqs[r["i"]] for r in records],
                   "shape_errors": shape_errors, "sampled": sampled}, f)


if __name__ == "__main__":
    main()
