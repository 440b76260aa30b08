"""Closed-loop TCP load generator for the submit/poll front-end.

    python3 perfbench/tcp_load.py --host 127.0.0.1 --submit-port P --poll-port Q \
        --clients 4 --seconds 20 --queries queries.json

Each client thread submits its next query only after the previous one's
result arrived, polling until the result is in, as the reference test
client does. Clients stop submitting after ``--seconds``
and finish the query in flight. One JSON line per completed query is
printed to stdout. The client speaks the wire protocol with plain
sockets, so it imports nothing from the program.
"""

from __future__ import annotations

import argparse
import json
import socket
import sys
import threading
import time

NOT_READY = "No result yet, check again..."
# The reference test client (src/bin/test.rs:86-121) reconnects until the
# message changes and states no pause between polls. This pause is chosen,
# not measured: it bounds the poll load on the server's Python process to
# 50 connections/s per client and adds at most 20 ms to a latency of ~2 s.
POLL_INTERVAL_S = 0.02


def _roundtrip(host: str, port: int, payload: dict) -> dict:
    with socket.create_connection((host, port), timeout=60) as s:
        s.sendall(json.dumps(payload).encode("utf-8"))
        s.shutdown(socket.SHUT_WR)
        buf = bytearray()
        while chunk := s.recv(65536):
            buf += chunk
    return json.loads(bytes(buf).decode("utf-8"))


def _client(args, queries: list, out: list, lock: threading.Lock, deadline: float) -> None:
    for i, text in queries:
        if time.monotonic() >= deadline:
            return
        t0 = time.monotonic()
        try:
            qid = _roundtrip(args.host, args.submit_port, {"query": text})["query_id"]
            polls = 0
            while True:
                polls += 1
                resp = _roundtrip(args.host, args.poll_port, {"query_id": qid})
                if resp["message"] != NOT_READY:
                    break
                time.sleep(POLL_INTERVAL_S)
        except (OSError, ValueError, KeyError) as exc:
            rec = {"i": i, "error": f"{type(exc).__name__}: {exc}"}
        else:
            qpt = resp["query_processing_time"]
            rec = {
                "i": i,
                "qid": qid,
                "t_submit": t0,
                "t_done": time.monotonic(),
                "server_s": qpt["secs"] + qpt["nanos"] / 1e9,
                "polls": polls,
                "documents": resp["documents"],
                "message": resp["message"],
            }
        with lock:
            out.append(rec)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--submit-port", type=int, required=True)
    ap.add_argument("--poll-port", type=int, required=True)
    ap.add_argument("--clients", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--queries", required=True, help="JSON list of query strings")
    args = ap.parse_args()
    with open(args.queries) as fh:
        texts = list(enumerate(json.load(fh)))
    out: list = []
    lock = threading.Lock()
    deadline = time.monotonic() + args.seconds
    threads = [
        threading.Thread(
            target=_client, args=(args, texts[c :: args.clients], out, lock, deadline)
        )
        for c in range(args.clients)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for rec in out:
        print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
