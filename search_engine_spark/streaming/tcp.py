"""Real TCP submit/poll endpoints speaking the reference's wire protocol.

The reference's production surface is a pair of one-shot-JSON TCP
servers (``/root/reference/src/server.rs:34-61`` submit on :8080,
``:63-118`` poll on :8081) driven by the client loop in
``/root/reference/src/bin/test.rs:86-160``. Wire format (serde_json):

- submit: request ``{"query": str}`` ->
  response ``{"query_id": "<uuid>", "message": "Query received: <query>"}``
- poll: request ``{"query_id": str}`` -> response
  ``{"documents": [[doc_id, i32], ...], "message": str,
  "query_processing_time": {"secs": u64, "nanos": u32}}``. While a
  result is pending the message is EXACTLY
  ``"No result yet, check again..."`` with placeholder documents
  ``[["", 0]]`` — the reference client string-matches that sentinel to
  decide whether to re-poll (``test.rs:116``), so it is part of the
  wire contract.

Engine integration (batch-first): submissions land in an in-process
queue; one serving thread drains ALL pending queries per wakeup and
runs them as ONE ``wand_topk`` batch — the engine's design point, and
the reason per-query cost amortizes under load. The reported
``query_processing_time`` spans submit-arrival -> result-commit, i.e.
INCLUDES queue wait, matching the reference's latency definition
(BASELINE.md row 3). Scores ride the i32 wire slot as
``round(bm25 * 1000)`` millipoints: the reference's i32 is a
token-frequency sum, this engine ranks by BM25 per the north star —
wire shape preserved, scoring-scale divergence documented.

At cluster scale this front-end is the driver-side edge of the serving
job (the queue is the reference's MPMC channel, SURVEY.md §2 P6 —
Spark's scheduler replaces the worker pool); a production deploy would
run several of these behind a load balancer, each owning a SparkSession.
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading
import time
import uuid

from pyspark.sql import SparkSession

NOT_READY = "No result yet, check again..."
RECV_MAX = 64 * 1024
# one-shot JSON messages larger than this abort the read (DoS guard);
# generous because a k=None full ranked list over a large corpus is a
# legitimate multi-megabyte response
MSG_MAX = 64 * 1024 * 1024


def recv_json(sock: socket.socket, msg_max: int = MSG_MAX):
    """Read chunks until the accumulated bytes parse as ONE JSON
    document — the reference client's framing loop
    (``/root/reference/src/bin/test.rs:86-121``) — or the peer
    half-closes. A single ``recv`` is NOT a message boundary: a
    ``k=None`` full ranked list or a large submit payload legitimately
    spans many segments. Returns None on an empty stream; raises
    ``ValueError`` on a malformed or oversized message.
    """
    buf = bytearray()
    while True:
        chunk = sock.recv(RECV_MAX)
        if not chunk:
            if not buf:
                return None
            # peer closed: whatever we have must be the whole message
            return json.loads(bytes(buf).decode("utf-8"))
        buf += chunk
        try:
            return json.loads(bytes(buf).decode("utf-8"))
        except (json.JSONDecodeError, UnicodeDecodeError):
            # incomplete JSON (or a multi-byte UTF-8 char split across
            # segments): keep reading
            if len(buf) > msg_max:
                raise ValueError(
                    f"JSON message exceeds {msg_max} bytes"
                ) from None


def _duration(secs_float: float) -> dict:
    """Rust ``std::time::Duration`` serde shape."""
    secs = int(secs_float)
    return {"secs": secs, "nanos": int((secs_float - secs) * 1e9)}


class TcpServingFrontend:
    """Reference-protocol TCP pair over a prebuilt segment index.

    ``start()`` binds both listeners (ephemeral ports by default) and
    launches the batch-serving thread; returns (submit_port, poll_port).
    """

    # mailbox bound for a 24/7 process whose clients never poll: oldest
    # results are dropped once this many are retained (normal clients
    # never see it — a successful poll removes its entry, matching the
    # reference's results.remove, /root/reference/src/lib.rs:325-330)
    MAILBOX_MAX = 4096

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        k: int | None = 10,
        host: str = "127.0.0.1",
        submit_port: int = 0,
        poll_port: int = 0,
    ):
        self._spark = spark
        self._index_dir = index_dir
        self._k = k  # None -> serve the FULL ranked list per query,
        # matching the reference poll endpoint (src/server.rs:98-105)
        self._host = host
        self._ports = (submit_port, poll_port)
        self._lock = threading.Condition()
        self._pending: list[tuple[str, str, float]] = []
        # query_id -> {"documents": [[url, int], ...], "secs": float}
        self._results: dict[str, dict] = {}
        self._stop = False
        self._serve_thread: threading.Thread | None = None
        self._threads: list[threading.Thread] = []
        self._servers: list[socketserver.ThreadingTCPServer] = []

    # --- protocol handlers ------------------------------------------------

    def _handle_submit(self, payload: dict) -> dict:
        query = payload["query"]
        qid = str(uuid.uuid4())
        with self._lock:
            self._pending.append((qid, query, time.monotonic()))
            self._lock.notify()
        return {"query_id": qid, "message": f"Query received: {query}"}

    def _handle_poll(self, payload: dict) -> dict:
        qid = payload["query_id"]
        with self._lock:
            # a successful poll REMOVES the result — the reference does
            # the same (results.remove, src/lib.rs:325-330), and it is
            # what keeps a long-running mailbox bounded
            res = self._results.pop(qid, None)
        if res is None:
            return {
                "documents": [["", 0]],
                "message": NOT_READY,
                "query_processing_time": _duration(0.0),
            }
        if "error" in res:
            msg = f"Query failed: {qid} ({res['error']})"
        else:
            msg = (f"Query result: {qid} "
                   f"({len(res['documents'])} documents)")
        return {
            "documents": res["documents"],
            "message": msg,
            "query_processing_time": _duration(res["secs"]),
        }

    # --- serving loop -----------------------------------------------------

    def _serve_loop(self) -> None:
        from ..query.wand import wand_topk

        while True:
            with self._lock:
                while not self._pending and not self._stop:
                    self._lock.wait()
                if self._stop and not self._pending:
                    # grace drain: stop only once every accepted query
                    # has been served (the reference grants the same
                    # drain window, /root/reference/src/main.rs:389-425)
                    return
                batch = self._pending
                self._pending = []
            try:
                # list form: the batch already lives on the driver, so
                # wand_topk scores it in one job and merges on the driver
                # (a createDataFrame batch would add a job to collect it)
                rows = wand_topk(
                    self._spark,
                    self._index_dir,
                    [(qid, q) for qid, q, _ in batch],
                    k=self._k,
                ).collect()
                by_qid: dict[str, list] = {}
                for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
                    by_qid.setdefault(r.query_id, []).append(
                        [r.url, int(round(r.score * 1000))]
                    )
                err = None
            except Exception as exc:  # noqa: BLE001 — a transient Spark
                # failure must not kill the serving thread: record an
                # error result per qid so every poll terminates, then
                # keep draining future batches
                by_qid, err = {}, f"{type(exc).__name__}: {exc}"
            done = time.monotonic()
            with self._lock:
                for qid, _, t0 in batch:
                    # arrival -> search-complete, queue wait INCLUDED
                    res = {
                        "documents": by_qid.get(qid, []),
                        "secs": done - t0,
                    }
                    if err is not None:
                        res["error"] = err
                    self._results[qid] = res
                while len(self._results) > self.MAILBOX_MAX:
                    self._results.pop(next(iter(self._results)))

    # --- lifecycle --------------------------------------------------------

    def start(self) -> tuple[int, int]:
        frontend = self

        def make(handler_fn):
            class Handler(socketserver.BaseRequestHandler):
                def handle(self):
                    try:
                        payload = recv_json(self.request)
                    except ValueError as exc:
                        self.request.sendall(
                            json.dumps(
                                {"message": f"bad request: {exc}"}
                            ).encode("utf-8")
                        )
                        return
                    if payload is None:
                        return
                    try:
                        resp = handler_fn(payload)
                    except Exception as exc:  # malformed request
                        resp = {"message": f"bad request: {exc}"}
                    self.request.sendall(json.dumps(resp).encode("utf-8"))

            return Handler

        socketserver.ThreadingTCPServer.allow_reuse_address = True
        for port, fn in (
            (self._ports[0], frontend._handle_submit),
            (self._ports[1], frontend._handle_poll),
        ):
            srv = socketserver.ThreadingTCPServer(
                (self._host, port), make(fn)
            )
            srv.daemon_threads = True
            self._servers.append(srv)
            t = threading.Thread(target=srv.serve_forever, daemon=True)
            t.start()
            self._threads.append(t)
        t = threading.Thread(target=self._serve_loop, daemon=True)
        t.start()
        self._serve_thread = t
        self._threads.append(t)
        return tuple(s.server_address[1] for s in self._servers)

    def stop(self, grace_sec: float = 30.0) -> None:
        """Drain-then-stop: wait up to ``grace_sec`` for the serving
        thread to finish every accepted query (results stay retrievable
        via the mailbox / ``_handle_poll``), then close the listeners."""
        with self._lock:
            self._stop = True
            self._lock.notify_all()
        if self._serve_thread is not None:
            self._serve_thread.join(timeout=grace_sec)
        for srv in self._servers:
            srv.shutdown()
            srv.server_close()


def submit_query(host: str, port: int, query: str) -> dict:
    """Client half of the submit protocol (one JSON request/connection)."""
    return _roundtrip(host, port, {"query": query})


def poll_query(host: str, port: int, query_id: str) -> dict:
    """Client half of the poll protocol."""
    return _roundtrip(host, port, {"query_id": query_id})


def _roundtrip(host: str, port: int, payload: dict) -> dict:
    """One JSON request/connection; the response is framed by
    read-until-parse (``recv_json``), NOT by a single recv — mirroring
    the reference client (``src/bin/test.rs:86-121``), whose responses
    (full ranked lists under ``k=None``) can exceed any one segment."""
    with socket.create_connection((host, port), timeout=30) as s:
        s.sendall(json.dumps(payload).encode("utf-8"))
        s.shutdown(socket.SHUT_WR)
        resp = recv_json(s)
    if resp is None:
        raise ConnectionError("server closed without a response")
    return resp
