"""Closed-loop load client for the serving part of ``instruction_pipeline``,
run as its own process.

Each of ``--connections`` threads posts one record to ``/pipeline/run`` and
waits for the reply. Records are taken in turn from ``--records`` (JSONL),
starting at line ``--offset`` and wrapping around. Every request is written
to ``--out`` as one JSON line: record index, start and end (``time.time()``),
HTTP status and the reply body.
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import threading
import time
import urllib.parse


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--url", required=True)
    p.add_argument("--records", required=True)
    p.add_argument("--offset", type=int, default=0)
    p.add_argument("--connections", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()

    with open(args.records) as f:
        bodies = [line.strip().encode() for line in f if line.strip()]
    url = urllib.parse.urlsplit(args.url)
    order = itertools.count(args.offset)
    lock = threading.Lock()
    results: list[dict] = []

    def post() -> None:
        with lock:
            idx = next(order) % len(bodies)
        start = time.time()
        try:
            conn = http.client.HTTPConnection(url.hostname, url.port, timeout=120)
            try:
                conn.request("POST", "/pipeline/run", body=bodies[idx],
                             headers={"Content-Type": "application/json"})
                resp = conn.getresponse()
                status, body = resp.status, resp.read().decode()
            finally:
                conn.close()
        except OSError as e:
            status, body = 0, json.dumps({"error": repr(e)})
        with lock:
            results.append({"idx": idx, "start": start, "end": time.time(),
                            "status": status, "body": body})

    threads = [threading.Thread(target=post) for _ in range(args.connections)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(args.out, "w") as f:
        for r in results:
            f.write(json.dumps(r) + "\n")
    print("done", len(results), flush=True)


if __name__ == "__main__":
    main()
