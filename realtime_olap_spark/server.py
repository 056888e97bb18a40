"""HTTP query entry point — the broker REST surface.

Reference entry point A: ``POST /query`` with body ``{"pql": "..."}``
handled by BaseBrokerRequestHandler.handleRequest
(pinot-broker/.../requesthandler/BaseBrokerRequestHandler.java:114; REST
resource PinotClientRequest.java) returning a BrokerResponseNative JSON
(selectionResults / aggregationResults + execution stats + exceptions).

Spark-first shape: the handler is a thin stdlib HTTP layer over
``PQLEngine.execute`` — parsing, compilation and the bounded per-function
trim all happen in the engine; the server only serializes. A production
deployment would put this behind a real ASGI/servlet front; the contract
(URL, body, response JSON) is what parity requires.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from realtime_olap_spark.plans.pql import PQLEngine, QueryTimeout

#: Largest request body the server reads (a PQL query is a few KB).
MAX_BODY_BYTES = 1 << 20


class PQLServer:
    """Threaded HTTP server exposing ``POST /query``.

    ``port=0`` binds an ephemeral port (read it back from ``.port``).
    ``timeout_ms`` is the broker deadline applied to every query unless
    the request body carries its own ``timeoutMs`` (the reference's
    brokerTimeoutMs + per-query override); a timed-out query returns the
    in-band EXECUTION_TIMEOUT-style exception, not an HTTP error.
    """

    def __init__(self, spark: SparkSession, sf_dir: str | None = None,
                 host: str = "127.0.0.1", port: int = 0,
                 timeout_ms: int | None = None):
        engine = PQLEngine(spark, sf_dir)
        self.engine = engine  # exposed: catalog.register_derived etc.
        default_timeout = timeout_ms

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args) -> None:  # quiet test runs
                pass

            def _reply(self, code: int, payload: dict) -> None:
                data = json.dumps(payload, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_POST(self) -> None:
                if self.path.rstrip("/") != "/query":
                    self._reply(404, {"error": f"unknown path {self.path}"})
                    return
                try:
                    length = int(self.headers.get("Content-Length", 0))
                    if not 0 <= length <= MAX_BODY_BYTES:
                        raise ValueError(length)
                except ValueError:
                    # in-band like every other bad request; the body is
                    # not read (it cannot be delimited, or is over the
                    # bound), so the connection closes
                    self.close_connection = True
                    self._reply(400, {"exceptions": [
                        {"errorCode": 100,  # JSON_PARSING_ERROR analog
                         "message": "invalid Content-Length header: "
                                    f"{self.headers.get('Content-Length')!r}"
                                    f" (0..{MAX_BODY_BYTES} bytes)"}]})
                    return
                body = self.rfile.read(length).decode("utf-8", "replace")
                tmo = default_timeout
                try:
                    parsed = json.loads(body)
                    pql = parsed["pql"] if isinstance(parsed, dict) else body
                    if isinstance(parsed, dict) and "timeoutMs" in parsed:
                        tmo = int(parsed["timeoutMs"])
                except (ValueError, KeyError):
                    pql = body  # raw-PQL body is accepted too
                start = time.perf_counter()
                try:
                    resp = engine.execute(pql, timeout_ms=tmo)
                    resp.setdefault("exceptions", [])
                except QueryTimeout as ex:
                    resp = {"exceptions": [
                        {"errorCode": 250,  # EXECUTION_TIMEOUT analog
                         "message": str(ex)}]}
                except Exception as ex:  # noqa: BLE001 — broker returns
                    # errors in-band (BrokerResponseNative exceptions list)
                    resp = {"exceptions": [
                        {"errorCode": 150,  # QUERY_EXECUTION_ERROR analog
                         "message": f"{type(ex).__name__}: {ex}"}]}
                resp["timeUsedMs"] = int((time.perf_counter() - start) * 1000)
                self._reply(200, resp)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.host = host
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "PQLServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)
