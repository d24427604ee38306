"""Closed-loop HTTP load generator, run as its own process so client
work never shares the server's interpreter.

Standard library only. Reads one JSON command per stdin line and
answers each with one JSON line on stdout; exits at end of input:

    {"base": "http://127.0.0.1:PORT", "clients": 1, "seconds": 20.0,
     "requests": [[route, query, rid], ...]}

Each client takes the next request of the list once its previous one
has replied (closed loop). With ``seconds`` set, no request starts
after the deadline; requests in flight complete and are reported.
Without it, every request is sent. Every reply is reported with its
send and receive wall-clock times, status and decoded JSON body.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

TIMEOUT_S = 60.0


def request(base: str, route: str, query: str, rid: str) -> dict:
    url = f"{base}/{route}/{urllib.parse.quote(query, safe='')}?limit=10&rid={rid}"
    t_send = time.time()
    try:
        with urllib.request.urlopen(url, timeout=TIMEOUT_S) as r:
            status, raw = r.status, r.read()
    except urllib.error.HTTPError as e:
        status, raw = e.code, e.read()
    except OSError as e:  # refused, reset, timed out
        status, raw = -1, json.dumps(str(e)).encode()
    t_recv = time.time()
    try:
        body = json.loads(raw)
    except ValueError:
        body = raw.decode("utf-8", "replace")
    return {"rid": rid, "route": route, "q": query, "send": t_send,
            "recv": t_recv, "status": status, "body": body}


def run_phase(cmd: dict) -> dict:
    reqs = cmd["requests"]
    deadline = time.time() + cmd["seconds"] if cmd.get("seconds") else None
    lock = threading.Lock()
    nxt = [0]
    results: list[dict] = []

    def client() -> None:
        while True:
            with lock:
                i = nxt[0]
                if i >= len(reqs) or (deadline is not None and time.time() >= deadline):
                    return
                nxt[0] += 1
            res = request(cmd["base"], *reqs[i])
            with lock:
                results.append(res)

    t0 = time.time()
    threads = [threading.Thread(target=client) for _ in range(cmd.get("clients", 1))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"t0": t0, "t1": time.time(), "results": results}


def main() -> None:
    for line in sys.stdin:
        sys.stdout.write(json.dumps(run_phase(json.loads(line))) + "\n")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
