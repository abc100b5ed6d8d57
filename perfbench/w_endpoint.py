"""endpoint_requests: a closed loop with one client sending POST
requests over loopback to ``cli.make_http_server`` serving an
``EndpointEngine``.

One operation is one request; one record is one request.  Records are
tiny, so per-request rule compiling and Spark job start-up dominate.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import threading
import time

import gen
import oracle
from harness import Op

RULES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "rules")
N_REQUESTS = 64


class Workload:
    name = "endpoint_requests"
    # requests keep getting faster for about eight requests (JIT):
    # 3.8, 3.3, 2.9, 2.7 ... 2.5 s; one untimed request drops the
    # slowest, and the median of the timed ones sits past the rest
    warmup_rounds = 1

    def __init__(self, seed: int, workdir: str):
        self.requests = gen.order_requests(random.Random(seed), N_REQUESTS)
        self.next = 0
        self.http_ms: list[float] = []
        self.server = self.thread = self.conn = None

    def setup(self, spark) -> None:
        from rulemorph_spark.cli import make_http_server
        from rulemorph_spark.service.endpoint import EndpointEngine

        engine = EndpointEngine(spark, os.path.join(RULES, "endpoint.yaml"))
        self.server = make_http_server(engine, "127.0.0.1", 0)
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       daemon=True)
        self.thread.start()
        host, port = self.server.server_address[:2]
        self.conn = http.client.HTTPConnection(host, port, timeout=170)
        self.conn.connect()

    def _request(self):
        req = self.requests[self.next % len(self.requests)]
        self.next += 1
        t0 = time.perf_counter()
        self.conn.request("POST", f"/orders/{req['id']}",
                          body=gen.dumps(req["body"]),
                          headers={"content-type": "application/json"})
        resp = self.conn.getresponse()
        data = resp.read()
        self.http_ms.append((time.perf_counter() - t0) * 1000.0)
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {data[:200]!r}")
        return req, json.loads(data)

    @staticmethod
    def _check(out) -> str | None:
        req, body = out
        want = oracle.endpoint_reply(req["id"], req["body"])
        if not oracle.kind_equal(want, body):
            return f"got {body!r}, expected {want!r}"
        return None

    def ops(self) -> list[Op]:
        return [Op("post_order", self._request, self._check, 1)]

    def layer_metrics(self) -> dict:
        return {"service.http.request_ms":
                sum(self.http_ms) / len(self.http_ms)}

    def teardown(self) -> None:
        if self.conn is not None:
            self.conn.close()
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
