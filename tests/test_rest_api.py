"""REST API source (A4) over a REAL local HTTP server — proves the
http_transport + mapInPandas fan-out path end to end (the container has
no external network; stdlib http.server stands in for the product API,
SURVEY §7 Phase 4)."""

from __future__ import annotations

import http.server
import json
import threading
import urllib.parse

import pytest

from upc_sku_data_loader_spark.sources.rest_api import (
    fake_transport,
    fetch_products,
    http_transport,
)


class _ProductHandler(http.server.BaseHTTPRequestHandler):
    fail_first = {"count": 0}  # exercise the retry path once

    def do_GET(self):  # noqa: N802
        if self.fail_first["count"] == 0:
            self.fail_first["count"] = 1
            self.send_response(503)
            self.end_headers()
            return
        qs = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
        upcs = qs.get("upcs", [""])[0].split(",")
        body = "\n".join(
            json.dumps(
                {
                    "upc": u,
                    "sku": f"SKU-{u}",
                    "brand": f"Brand#{int(u) % 25 + 1}",
                    "price": (int(u) % 100000) / 100.0,
                    "in_stock": int(u) % 2 == 0,
                }
            )
            for u in upcs
            if u
        ).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # silence
        pass


def test_fetch_products_over_real_http(spark):
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _ProductHandler)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        worklist = spark.createDataFrame(
            [(str(100000000000 + i),) for i in range(57)], "upc string"
        )
        got = fetch_products(
            worklist,
            page_size=10,
            base_url=f"http://127.0.0.1:{port}/products",
            transport=http_transport,
            auth_token="test-token",
        )
        rows = {r["upc"]: r for r in got.collect()}
        assert len(rows) == 57
        probe = rows["100000000004"]
        assert probe["sku"] == "SKU-100000000004"
        assert probe["in_stock"] is True
        assert abs(probe["price"] - ((100000000004 % 100000) / 100.0)) < 1e-12
    finally:
        server.shutdown()
        server.server_close()


def test_fetch_products_pages_never_exceed_page_size(spark):
    """An API that caps its page size rejects longer requests: every
    page must carry at most ``page_size`` UPCs, on every partition."""
    page_size = 10

    def capped(url, headers=None):
        n = len(urllib.parse.parse_qs(urllib.parse.urlparse(url).query)["upcs"][0].split(","))
        if n > page_size:
            raise ValueError(f"page of {n} UPCs exceeds the cap of {page_size}")
        return fake_transport(url, headers)

    upcs = [str(100000000000 + i) for i in range(57)]
    worklist = spark.createDataFrame(
        [(u,) for u in upcs] + [(None,)], "upc string"
    ).repartition(3)
    assert worklist.rdd.getNumPartitions() == 3
    got = fetch_products(worklist, page_size=page_size, transport=capped)
    assert sorted(r["upc"] for r in got.collect()) == upcs


def test_token_bucket_rate_and_burst():
    from upc_sku_data_loader_spark.sources.rest_api import TokenBucket

    now = [0.0]
    slept: list[float] = []

    def clock():
        return now[0]

    def sleep(s):
        slept.append(s)
        now[0] += s  # fake time advances exactly as requested

    b = TokenBucket(rate_per_s=2.0, burst=3, clock=clock, sleep=sleep)
    for _ in range(3):
        b.acquire()  # burst drains without sleeping
    assert slept == []
    b.acquire()  # 4th call must wait 1/rate = 0.5 s
    assert sum(slept) == 0.5 and now[0] == 0.5
    for _ in range(4):
        b.acquire()
    # sustained rate: 8 requests total from t=0 needs (8-3)/2 = 2.5 s
    assert now[0] == 2.5


def test_fake_transport_is_pure_function():
    url = "http://x/p?upcs=000000000042,000000000043"
    assert fake_transport(url) == fake_transport(url)
    recs = [json.loads(l) for l in fake_transport(url).splitlines()]
    assert [r["upc"] for r in recs] == ["000000000042", "000000000043"]
    assert recs[0]["in_stock"] is True and recs[1]["in_stock"] is False


def test_http_transport_retry_semantics(monkeypatch):
    """404 raises immediately (no retry, no sleep); 500 retries with
    backoff but never sleeps after the final failed attempt."""
    import io
    import urllib.error

    import upc_sku_data_loader_spark.sources.rest_api as R

    calls = {"n": 0}
    sleeps: list[float] = []
    monkeypatch.setattr(R.time, "sleep", sleeps.append)

    def raise_http(code):
        def fake_urlopen(req, timeout=None):
            calls["n"] += 1
            raise urllib.error.HTTPError(
                "http://x", code, "err", hdrs=None, fp=io.BytesIO(b"")
            )
        return fake_urlopen

    monkeypatch.setattr(R.urllib.request, "urlopen", raise_http(404))
    with pytest.raises(urllib.error.HTTPError):
        R.http_transport("http://x", max_retries=5, backoff_s=0.5)
    assert calls["n"] == 1 and sleeps == []  # non-retryable: one shot

    calls["n"] = 0
    monkeypatch.setattr(R.urllib.request, "urlopen", raise_http(500))
    with pytest.raises(RuntimeError):
        R.http_transport("http://x", max_retries=3, backoff_s=0.5)
    assert calls["n"] == 3
    assert sleeps == [0.5, 1.0]  # no sleep after the last attempt

    calls["n"] = 0
    sleeps.clear()
    monkeypatch.setattr(R.urllib.request, "urlopen", raise_http(429))
    with pytest.raises(RuntimeError):
        R.http_transport("http://x", max_retries=2, backoff_s=0.25)
    assert calls["n"] == 2 and sleeps == [0.25]  # 429 IS retryable
