"""The reference's end-to-end flow, Spark-native (SURVEY §3.2; reference
file:line n/a — empty tree §0.1): worklist → UPC normalize/validate →
delta detection against the target table → paginated REST fetch →
latest-per-key dedup → idempotent upsert → audit counts.

Every stage is one of the engine's own operators (B9/B10, C5, A4, E1/G4,
A7, D2) — the pipeline is composition, not new machinery.  With the
deterministic fake transport the WHOLE flow is a pure function of the
worklist, so the registry exposes it as a hash-checked query: the oracle
reproduces normalize + delta + payload + upsert in plain SQL.

Scale: the whole load is ONE Spark action (the upsert's collect of
per-partition row counts).  Normalize is map-only, dropDuplicates and
the anti-join shuffle on the 13-digit key (the anti-join broadcasts when
the existing-key set is small), the fetch runs over the delta's own
partitions, and the upsert fan-in is capped by ``max_connections``.  The
audit counts ride that action as ``Observation``s (the etl5 pattern), so
nothing is persisted and no input is scanned twice; only the counts and
one row count per writer partition reach the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.upc import upc_normalize
from ..sources.db import ConnFactory, db_sink_upsert
from ..sources.rest_api import Transport, fake_transport, fetch_products

_AQE_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_AQE_EMPTY_RULE = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


def load_upcs(
    worklist: DataFrame,
    existing_keys: DataFrame,
    conn_factory: ConnFactory,
    table: str = "products",
    upc_col: str = "upc_raw",
    page_size: int = 100,
    transport: Transport = fake_transport,
    base_url: str = "https://api.example.com/products",
    auth_token: str | None = None,
    dialect: str = "sqlite",
    max_connections: int = 4,
) -> dict[str, int]:
    """Run the full load; returns audit counts (the reference's load
    accounting — SURVEY §3.2 step 5), observed during the upsert's own
    action: raw worklist rows, distinct valid keys, delta keys."""
    seen, distinct, fresh = Observation(), Observation(), Observation()
    rows = F.count(F.lit(1)).alias("rows")
    normalized = (
        worklist.observe(seen, rows)
        .select(upc_normalize(F.col(upc_col), width=13).alias("upc"))
        .filter(F.length("upc") == 13)
    )
    # overlapping pages/batches
    deduped = normalized.dropDuplicates(["upc"]).observe(distinct, rows)
    delta = deduped.join(
        existing_keys.select(F.col("upc").alias("upc")), on="upc", how="left_anti"
    ).observe(fresh, rows)

    products = fetch_products(
        delta,
        upc_col="upc",
        page_size=page_size,
        base_url=base_url,
        transport=transport,
        auth_token=auth_token,
    )
    # AQE swaps a stage that ran empty (a worklist with no valid key) for
    # an empty relation, and the observations inside the stage go with it
    conf = worklist.sparkSession.conf
    old = conf.get(_AQE_EXCLUDED_RULES, None)
    conf.set(_AQE_EXCLUDED_RULES, f"{old},{_AQE_EMPTY_RULE}" if old else _AQE_EMPTY_RULE)
    try:
        db_sink_upsert(
            products,
            conn_factory=conn_factory,
            table=table,
            key_cols=["upc"],
            dialect=dialect,
            max_connections=max_connections,
        )
    finally:
        if old is None:
            conf.unset(_AQE_EXCLUDED_RULES)
        else:
            conf.set(_AQE_EXCLUDED_RULES, old)
    n_delta = fresh.get["rows"]
    return {
        "worklist_rows": seen.get["rows"],
        "delta_rows": n_delta,
        "skipped_existing": distinct.get["rows"] - n_delta,
    }
