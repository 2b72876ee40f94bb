"""Closed-loop HTTP read client, run as its own process.

    python3 client.py PLAN OUT SECONDS MIN_PER_LABEL

PLAN is a JSON file {"url": ..., "clients": [[request, ...], ...]}; one
thread per client list sends its requests in order, each only after the
previous reply (closed loop), cycling until SECONDS have passed and
every request label has MIN_PER_LABEL completed requests. OUT
receives every completed request with its latency and response rows,
for the benchmark process to check against its model.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

ROUTE_PARAMS = {
    "row_at": ("tablet", "height", "key"),
    "singlet_at": ("singlet", "height"),
    "state_at": ("tablet", "height", "limit"),
}


def request_url(base: str, req: dict, op: str) -> str:
    params = {k: req[k] for k in ROUTE_PARAMS[req["route"]]}
    params["op"] = op  # ignored by the server; names the op in traces
    return f"{base}/v1/{req['route']}?{urllib.parse.urlencode(params)}"


class Done:
    """Completed requests per label, shared by the client threads."""

    def __init__(self, labels, minimum: int):
        self.counts = dict.fromkeys(labels, 0)
        self.minimum = minimum
        self.lock = threading.Lock()

    def add(self, label: str) -> None:
        with self.lock:
            self.counts[label] += 1

    def enough(self) -> bool:
        with self.lock:
            return min(self.counts.values()) >= self.minimum


def client_loop(base: str, reqs: list, deadline: float, done: Done, out: list) -> None:
    i = 0
    while time.monotonic() < deadline or not done.enough():
        req = reqs[i % len(reqs)]
        url = request_url(base, req, f"{req['label']}.{i}")
        t = time.perf_counter()
        try:
            with urllib.request.urlopen(url, timeout=120) as resp:
                rows = json.loads(resp.read())["rows"]
            err = None
        except (urllib.error.URLError, OSError, ValueError) as e:
            rows, err = None, f"{type(e).__name__}: {e}"
        ms = (time.perf_counter() - t) * 1000.0
        out.append({"i": i % len(reqs), "ms": ms, "rows": rows, "error": err})
        done.add(req["label"])
        i += 1


def main(plan_path: str, out_path: str, seconds: float, min_per_label: int) -> int:
    with open(plan_path) as f:
        plan = json.load(f)
    results = [[] for _ in plan["clients"]]
    done = Done({r["label"] for reqs in plan["clients"] for r in reqs}, min_per_label)
    start = time.monotonic()
    deadline = start + seconds
    threads = [
        threading.Thread(target=client_loop, args=(plan["url"], reqs, deadline, done, out))
        for reqs, out in zip(plan["clients"], results)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(out_path, "w") as f:
        json.dump({"wall_s": time.monotonic() - start, "clients": results}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], float(sys.argv[3]), int(sys.argv[4])))
