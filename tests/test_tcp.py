"""Wire-protocol test for the TCP submit/poll front-end (SURVEY §2
S3/S4; reference ``src/server.rs`` + client loop ``src/bin/test.rs``)."""

from __future__ import annotations

import time

from search_engine_spark import corpus
from search_engine_spark.index.build import build_postings
from search_engine_spark.index.segments import build_segments
from search_engine_spark.query.scoring import query_terms
from search_engine_spark.streaming.tcp import (
    NOT_READY,
    RECV_MAX,
    TcpServingFrontend,
    poll_query,
    recv_json,
    submit_query,
)


def _poll_until_done(poll_port, qid, deadline_sec=120):
    deadline = time.monotonic() + deadline_sec
    while True:
        r = poll_query("127.0.0.1", poll_port, qid)
        if r["message"] != NOT_READY:
            return r
        assert time.monotonic() < deadline, "poll timed out"
        time.sleep(0.2)


def test_tcp_large_message_framing():
    """Messages larger than one recv() segment round-trip intact in
    BOTH directions (VERDICT r4 #5): the server frames requests by
    read-until-parse like the reference client
    (``src/bin/test.rs:86-121``), not by a single 64 KiB recv, and the
    client reassembles a multi-segment response (a ``k=None`` full
    ranked list). Pure protocol test — no Spark, no index: the serving
    thread is never exercised."""
    import json
    import socket

    fe = TcpServingFrontend(None, "/nonexistent", k=None)
    try:
        submit_port, poll_port = fe.start()

        # --- big REQUEST: a submit payload ~4x RECV_MAX; the echoed
        # response is equally large, so this covers both directions.
        # The client deliberately does NOT half-close after writing —
        # the reference client keeps the socket open and the server
        # must frame by parse, not by EOF.
        big_query = "tok" + "x" * (4 * RECV_MAX)
        with socket.create_connection(
            ("127.0.0.1", submit_port), timeout=30
        ) as s:
            payload = json.dumps({"query": big_query}).encode("utf-8")
            assert len(payload) > 4 * RECV_MAX
            s.sendall(payload)
            resp = recv_json(s)
        assert resp["message"] == f"Query received: {big_query}"

        # --- big RESPONSE through the normal client helper: inject a
        # full-ranked-list result well past one recv segment and poll.
        # A synthetic qid (never submitted) keeps the serving thread —
        # which records an error result for the big query above, since
        # this frontend has no engine — out of the mailbox slot.
        qid = "framing-test-synthetic-qid"
        docs = [[f"http://example.com/doc-{i:06d}", 10_000 - i]
                for i in range(8_000)]
        injected = {"documents": docs, "secs": 0.5}
        with fe._lock:
            fe._results[qid] = injected
        assert len(json.dumps(
            {"documents": docs, "message": "m",
             "query_processing_time": {"secs": 0, "nanos": 0}}
        )) > 3 * RECV_MAX
        r = poll_query("127.0.0.1", poll_port, qid)
        assert r["documents"] == docs  # byte-exact reassembly
        assert r["message"] == f"Query result: {qid} (8000 documents)"
    finally:
        fe.stop(grace_sec=1.0)


def test_tcp_submit_poll_roundtrip(spark, tmp_path):
    pages = corpus.tiny_pages(spark)
    idx = str(tmp_path / "idx")
    build_segments(spark, pages, idx, n_buckets=2, run_id="tcp")

    fe = TcpServingFrontend(spark, idx, k=5)
    try:
        submit_port, poll_port = fe.start()

        # unknown id -> the EXACT retry sentinel + placeholder documents
        miss = poll_query("127.0.0.1", poll_port, "no-such-id")
        assert miss["message"] == NOT_READY
        assert miss["documents"] == [["", 0]]
        assert miss["query_processing_time"] == {"secs": 0, "nanos": 0}

        # submit two in-vocabulary queries and one all-OOV query
        queries = [
            "standard american breakfast",
            "two snakes wrapped around a staff from greek mythology",
            "zzqqxunheardofterm",
        ]
        qids = []
        for q in queries:
            resp = submit_query("127.0.0.1", submit_port, q)
            assert resp["message"] == f"Query received: {q}"
            assert len(resp["query_id"]) == 36  # uuid4
            qids.append(resp["query_id"])

        # reference client loop: poll until the sentinel goes away
        results = {}
        deadline = time.monotonic() + 120
        for qid in qids:
            while True:
                r = poll_query("127.0.0.1", poll_port, qid)
                if r["message"] != NOT_READY:
                    results[qid] = r
                    break
                assert time.monotonic() < deadline, "poll timed out"
                time.sleep(0.2)

        for qid, q in zip(qids[:2], queries[:2]):
            docs = results[qid]["documents"]
            assert 1 <= len(docs) <= 5
            # [url, i32 millipoints], rank order = descending score
            assert all(isinstance(u, str) and isinstance(s, int)
                       for u, s in docs)
            scores = [s for _, s in docs]
            assert scores == sorted(scores, reverse=True)
            d = results[qid]["query_processing_time"]
            assert d["secs"] >= 0 and 0 <= d["nanos"] < 1_000_000_000
        # the OOV query completes with an EMPTY result (not the sentinel)
        assert results[qids[2]]["documents"] == []
    finally:
        fe.stop()


def test_tcp_full_list_error_resilience_evict_and_drain(
    spark, tmp_path, monkeypatch
):
    """Round-4 serving semantics on one index/front-end:

    1. a transient engine failure records an error result (polls
       terminate, serving thread survives — ADVICE r3 #1);
    2. k=None serves the FULL ranked list, length == number of docs
       matching >= 1 query term (reference src/server.rs:98-105);
    3. a successful poll evicts its mailbox entry (reference's
       results.remove, src/lib.rs:325-330);
    4. stop() drains the in-flight batch before returning (reference's
       grace drain, src/main.rs:389-425)."""
    import search_engine_spark.query.wand as wand_mod

    pages = corpus.tiny_pages(spark)
    idx = str(tmp_path / "idxfull")
    build_segments(spark, pages, idx, n_buckets=2, run_id="tcpfull")

    real = wand_mod.wand_topk
    calls = {"n": 0}

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected transient failure")
        return real(*a, **kw)

    monkeypatch.setattr(wand_mod, "wand_topk", flaky)

    fe = TcpServingFrontend(spark, idx, k=None)  # FULL ranked list
    try:
        submit_port, poll_port = fe.start()
        q = "standard american breakfast"

        # 1. first batch hits the injected failure: poll terminates
        # with an error message, not the retry sentinel
        qid1 = submit_query("127.0.0.1", submit_port, q)["query_id"]
        r1 = _poll_until_done(poll_port, qid1)
        assert r1["message"].startswith(f"Query failed: {qid1}")
        assert r1["documents"] == []

        # 2. the serving thread survived; the full ranked list has one
        # entry per doc matching >= 1 query term
        qid2 = submit_query("127.0.0.1", submit_port, q)["query_id"]
        r2 = _poll_until_done(poll_port, qid2)
        assert r2["message"].startswith(f"Query result: {qid2}")
        qdf = spark.createDataFrame([("q", q)], ["query_id", "query_string"])
        n_match = (
            query_terms(qdf)
            .join(build_postings(pages), "term")
            .select("url")
            .distinct()
            .count()
        )
        assert len(r2["documents"]) == n_match > 10

        # 3. the successful poll evicted the entry
        again = poll_query("127.0.0.1", poll_port, qid2)
        assert again["message"] == NOT_READY

        # 4. submit then stop immediately: the grace drain still
        # answers the in-flight query (mailbox outlives the listeners)
        qid3 = submit_query("127.0.0.1", submit_port, q)["query_id"]
        fe.stop()
        r3 = fe._handle_poll({"query_id": qid3})
        assert r3["message"].startswith(f"Query result: {qid3}")
        assert len(r3["documents"]) == n_match
    finally:
        fe.stop()
