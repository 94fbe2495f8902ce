"""HTTP worker surface — the Spark-idiomatic re-expression of the
reference's HTTP trio (reference laygo/transformers/http.py:97-295,
strategies/http.py:15-88; SURVEY §2.1/§2.9 records why a literal port is
wrong here).

The reference ships CODE to a remote worker server: an HTTPTransformer
is simultaneously the route definition (server) and the client that
POSTs pickled chunks to it. On Spark, remote execution of the PLAN is
Spark Connect's job — but the genuinely useful semantics underneath
(call a stateless HTTP service for every chunk of data: model-inference
endpoints, embedding services, scoring APIs — the inference-in-the-loop
step of a training-data pipeline) map cleanly onto the engine's batch
model, and BOTH halves of the reference's dual-purpose design exist
here:

* **client**: ``post_stream`` is the request/retry stream function;
  ``post_batches`` runs it as one ``mapInPandas`` and
  ``Transformer.map_batches_http`` as a Python stage that fuses with its
  neighbours. Each batch goes as a JSON record envelope from the
  EXECUTORS — requests fan out with partition parallelism
  (``repartition(n)`` = n in-flight requests), retries with exponential
  backoff run worker-side, and a failed batch after retries raises into
  the normal error path (compose with ``.catch`` for drop-the-batch
  semantics).
* **server**: ``http_batch_handler`` wraps a plain
  ``fn(pd.DataFrame) -> pd.DataFrame`` as a stdlib
  ``BaseHTTPRequestHandler`` (the reference's ``get_route`` analog —
  framework-free; mount it on ``ThreadingHTTPServer`` or adapt the
  same envelope to Flask/FastAPI).

Wire format (the cross-engine contract, deliberately not pickle — the
reference pickles chunks, which ties both ends to one Python): request
``{"records": [{col: value, ...}, ...]}``; response the same envelope.
Columns must be JSON-native (cast binary/timestamp upstream, or pass
``request_fn``/``response_fn`` to own the encoding).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def _default_request(pdf: pd.DataFrame) -> bytes:
    return json.dumps({"records": pdf.to_dict(orient="records")}).encode()


def _default_response(body: bytes) -> pd.DataFrame:
    return pd.DataFrame(json.loads(body)["records"])


def post_stream(
    url: str,
    request_fn: Callable[[pd.DataFrame], bytes] | None = None,
    response_fn: Callable[[bytes], pd.DataFrame] | None = None,
    timeout: float = 30.0,
    retries: int = 2,
    backoff: float = 0.5,
    headers: dict[str, str] | None = None,
    concurrency: int = 1,
    on_error: str = "raise",
) -> Callable[[Iterable[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The stream function that POSTs each pandas batch it is given to
    ``url`` (one batch = one request) and yields the response frames.
    ``Transformer.map_batches_http`` runs it as a Python stage, so an
    upstream ``set_chunker`` sets the request size.

    Retries transient failures (connection errors, HTTP 5xx/429)
    ``retries`` times with exponential backoff; 4xx responses raise
    immediately (a malformed request never heals by retrying). All I/O
    is executor-side stdlib urllib — no driver round-trips, no extra
    dependencies.

    **Delivery is at-least-once**: a client-side timeout or dropped
    connection is retried even though the server may have already
    processed the request — and Spark itself re-runs failed/speculated
    tasks, replaying every batch in the partition. A non-idempotent
    endpoint WILL observe duplicate batches under either mechanism;
    endpoint authors should key side effects on a request-content hash
    (send one via ``headers``/``request_fn`` as an idempotency key) or
    make the handler naturally idempotent. Exactly-once at the protocol
    level is not possible from a stateless client.

    ``concurrency`` pipelines up to that many in-flight requests PER
    PARTITION through a thread pool (the reference ``HTTPStrategy``'s
    ``max_workers`` analog — a remote service is latency-bound, not
    CPU-bound, so serial per-partition POSTs would idle the wire).
    Total in-flight across the cluster = partitions × concurrency; the
    sliding window keeps at most ``concurrency`` encoded payloads and
    responses in memory per task.

    ``on_error``: ``"raise"`` (default) fails the task once a batch
    exhausts its retries; ``"drop"`` skips that batch and continues —
    the reference ``HTTPStrategy``'s drop-the-chunk behavior
    (strategies/http.py:69-73), but OPT-IN and loud here rather than a
    silent swallow. (Note ``.catch(fn)`` guards its OWN fn, not
    upstream plan stages — drop semantics for HTTP failures must live
    in this operator, which is why the flag exists.)"""
    if concurrency < 1:
        raise ValueError(f"concurrency must be >= 1, got {concurrency}")
    if on_error not in ("raise", "drop"):
        raise ValueError(f"on_error must be 'raise' or 'drop', got {on_error!r}")
    req_fn = request_fn or _default_request
    resp_fn = response_fn or _default_response
    extra = dict(headers or {})

    def call(payload: bytes) -> pd.DataFrame:
        import urllib.error
        import urllib.request

        attempt = 0
        while True:
            req = urllib.request.Request(
                url,
                data=payload,
                headers={"Content-Type": "application/json", **extra},
                method="POST",
            )
            try:
                with urllib.request.urlopen(req, timeout=timeout) as resp:
                    return resp_fn(resp.read())
            except urllib.error.HTTPError as exc:
                retryable = exc.code >= 500 or exc.code == 429
                if not retryable or attempt >= retries:
                    raise
            except (urllib.error.URLError, TimeoutError, ConnectionError):
                if attempt >= retries:
                    raise
            time.sleep(backoff * (2**attempt))
            attempt += 1

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def settle(result_fn):
            """Resolve one request under the on_error policy."""
            try:
                return result_fn()
            except Exception:  # noqa: BLE001 — policy-gated
                if on_error == "drop":
                    return None
                raise

        if concurrency == 1:
            for pdf in batches:
                if not len(pdf):
                    continue
                payload = req_fn(pdf)
                out = settle(lambda: call(payload))
                if out is not None and len(out):
                    yield out
            return
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            window: deque = deque()
            for pdf in batches:
                if not len(pdf):
                    continue
                window.append(pool.submit(call, req_fn(pdf)))
                if len(window) >= concurrency:
                    fut = window.popleft()
                    out = settle(fut.result)
                    if out is not None and len(out):
                        yield out
            while window:
                fut = window.popleft()
                out = settle(fut.result)
                if out is not None and len(out):
                    yield out

    return run


def post_batches(df: DataFrame, url: str, schema, **options) -> DataFrame:
    """POST each Arrow batch of ``df`` to ``url``; emit the response
    rows under ``schema``. ``options`` are ``post_stream``'s."""
    return df.mapInPandas(post_stream(url, **options), schema=schema)


def http_batch_handler(fn: Callable[[pd.DataFrame], pd.DataFrame]):
    """Server half (the reference ``get_route`` analog): wrap a batch
    function as a stdlib request handler class speaking the same JSON
    envelope ``post_batches`` sends. Mount on ``ThreadingHTTPServer``
    for a zero-dependency worker; the envelope is trivial to re-serve
    from any web framework."""
    from http.server import BaseHTTPRequestHandler

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 — stdlib API name
            try:
                n = int(self.headers.get("Content-Length", 0))
                pdf = _default_response(self.rfile.read(n))
                out = fn(pdf)
                body = _default_request(out)
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            except Exception as exc:  # noqa: BLE001 — worker contract: 500 + message
                body = json.dumps({"error": str(exc)}).encode()
                self.send_response(500)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        def log_message(self, *args):  # silence per-request stderr noise
            pass

    return Handler
