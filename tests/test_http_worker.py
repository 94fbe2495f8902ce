"""HTTP worker surface (operators/http.py) — both halves of the
reference's HTTPTransformer parity (laygo/transformers/http.py), tested
against a LIVE stdlib worker: the server half exposes a batch fn, the
client half POSTs Arrow batches from executors, with retry and failure
semantics pinned.
"""

from __future__ import annotations

import json
import threading
from http.server import ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from laygo_python_spark import Transformer
from laygo_python_spark.operators.http import http_batch_handler, post_batches


@pytest.fixture()
def worker():
    """A live threaded worker doubling `v` — the server half under test."""

    def double(pdf):
        out = pdf.copy()
        out["v"] = out["v"] * 2
        return out

    srv = ThreadingHTTPServer(("127.0.0.1", 0), http_batch_handler(double))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/"
    srv.shutdown()
    srv.server_close()


def test_map_batches_http_round_trip(spark, worker):
    df = spark.range(0, 200).select(F.col("id").alias("v")).repartition(4)
    got = sorted(
        r.v for r in Transformer().map_batches_http(worker, schema="v long")(df).collect()
    )
    assert got == [2 * v for v in range(200)]


def test_post_batches_retries_transient_failures(spark):
    """First request per batch gets a 500; the retry succeeds — results
    complete despite the flaky worker."""
    fail_once: set[str] = set()
    lock = threading.Lock()

    def flaky(pdf):
        key = str(sorted(pdf["v"].tolist())[:1])
        with lock:
            if key not in fail_once:
                fail_once.add(key)
                raise RuntimeError("transient")
        return pdf.assign(v=pdf["v"] + 1)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), http_batch_handler(flaky))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/"
        df = spark.range(0, 50).select(F.col("id").alias("v")).coalesce(1)
        got = sorted(r.v for r in post_batches(df, url, "v long", retries=3).collect())
        assert got == [v + 1 for v in range(50)]
    finally:
        srv.shutdown()
        srv.server_close()


def test_post_batches_gives_up_after_retries_and_drop_policy(spark):
    """A permanently failing worker raises through the normal error
    path by default; on_error="drop" skips the failing batch."""

    def always_fail(pdf):
        raise RuntimeError("permanent")

    srv = ThreadingHTTPServer(("127.0.0.1", 0), http_batch_handler(always_fail))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/"
        df = spark.range(0, 10).select(F.col("id").alias("v")).coalesce(1)
        with pytest.raises(Exception, match="500|HTTP"):
            post_batches(df, url, "v long", retries=1, backoff=0.05).collect()
        # and the drop policy: on_error="drop" skips the failing batch
        # (.catch guards its own fn, not upstream stages — the operator
        # owns drop semantics, documented in operators/http.py)
        salvaged = (
            Transformer()
            .map_batches_http(url, schema="v long", retries=0, on_error="drop")(df)
            .collect()
        )
        assert salvaged == []  # every batch failed and was dropped, no raise
    finally:
        srv.shutdown()
        srv.server_close()


def test_server_handler_envelope_is_json_not_pickle():
    """The wire contract is the JSON record envelope — engine-neutral,
    unlike the reference's pickled chunks (a deliberate divergence,
    documented in operators/http.py)."""
    import io

    captured = {}

    class FakeRequest:
        def makefile(self, *a, **kw):
            return io.BytesIO()

    def echo(pdf):
        captured["cols"] = list(pdf.columns)
        return pdf

    handler_cls = http_batch_handler(echo)
    body = json.dumps({"records": [{"v": 1}, {"v": 2}]}).encode()
    # drive do_POST directly with a minimal shim
    h = handler_cls.__new__(handler_cls)
    h.headers = {"Content-Length": str(len(body))}
    h.rfile = io.BytesIO(body)
    out = io.BytesIO()
    h.wfile = out
    h.send_response = lambda *a, **kw: None
    h.send_header = lambda *a, **kw: None
    h.end_headers = lambda: None
    h.do_POST()
    assert captured["cols"] == ["v"]
    assert json.loads(out.getvalue())["records"] == [{"v": 1}, {"v": 2}]


def test_post_batches_concurrency_pipelines_requests(spark):
    """concurrency=8 pipelines in-flight requests per partition (the
    reference HTTPStrategy max_workers analog): the server sees several
    of ONE partition's batches in flight at once, where the serial client
    never has more than one. Counted at the server, not timed, so a slow
    box cannot flip it. Results identical either way."""
    import time as _t

    lock = threading.Lock()
    flight = {"now": 0, "peak": 0}

    def slow_double(pdf):
        with lock:
            flight["now"] += 1
            flight["peak"] = max(flight["peak"], flight["now"])
        _t.sleep(0.15)
        with lock:
            flight["now"] -= 1
        return pdf.assign(v=pdf["v"] * 2)

    def peak_in_flight(**kw):
        flight["peak"] = 0
        got = sorted(r.v for r in post_batches(df, url, "v long", **kw).collect())
        return got, flight["peak"]

    srv = ThreadingHTTPServer(("127.0.0.1", 0), http_batch_handler(slow_double))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/"
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
        try:
            df = spark.range(0, 80).select(F.col("id").alias("v")).coalesce(1)
            serial, serial_peak = peak_in_flight()
            conc, conc_peak = peak_in_flight(concurrency=8)
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        assert conc == serial == [2 * v for v in range(80)]
        assert serial_peak == 1
        assert conc_peak >= 2, conc_peak
    finally:
        srv.shutdown()
        srv.server_close()


def test_set_chunker_controls_request_size(spark):
    """An upstream set_chunker flows through map_batches_http: one
    custom chunk = one POST, so the worker sees exactly-N-row bodies."""
    sizes = []
    lock = threading.Lock()

    def record(pdf):
        with lock:
            sizes.append(len(pdf))
        return pdf

    srv = ThreadingHTTPServer(("127.0.0.1", 0), http_batch_handler(record))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/"
        df = spark.range(0, 60).select(F.col("id").alias("v")).coalesce(1)
        got = sorted(
            r.v
            for r in Transformer()
            .set_chunker(12)
            .map_batches_http(url, schema="v long")(df)
            .collect()
        )
        assert got == list(range(60))
        assert sorted(sizes) == [12] * 5
    finally:
        srv.shutdown()
        srv.server_close()
