"""Dimension builds + surrogate keys + fact preparation.

Reference: D2 distinct-extraction src/transform.py:410-468, fact prep
:591-605, surrogate keys from PostgreSQL SERIAL (sql/schema.sql:84...).

Surrogate keys without SERIAL (SURVEY §7.4-1), two strategies:

- ``dense`` (default, reference-parity): ``row_number() OVER (ORDER BY
  natural_key)``. The reference inserts the sorted distinct values into a
  SERIAL column, so keys 1..n in natural-key order are EXACTLY what
  PostgreSQL assigns on a fresh load. The global window here is a
  single-task sort — fine for the builder's per-batch dimensional
  cardinalities.
- ``hash``: ``xxhash64(natural_key)`` — stateless, shuffle-free, stable
  across incremental loads and cluster sizes; collision chance at 64-bit
  is ~n²/2⁶⁵ (≈3e-7 for 100M keys).

These keys belong to the IR (the frames a transform returns); they are
NOT what lands in the warehouse. ``Warehouse.load_warehouse`` takes only
the natural keys from ``fact_data`` and assigns warehouse keys itself in
its dimension merge: dense ``row_number`` in natural-key order past
max(existing), switching to the distributed two-phase rank
(operators/ranking.py) above ``WarehouseConfig.large_dim_threshold`` —
so a ``hash`` IR, which no caller uses, still loads dense keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import DIMENSION_KEYS
from .dates import build_dim_date_from_facts, date_key


def assign_surrogate_key(
    distinct_df: DataFrame,
    natural_key: str,
    surrogate_key: str,
    strategy: str = "dense",
    offset: int = 0,
) -> DataFrame:
    if strategy == "hash":
        keyed = distinct_df.withColumn(
            surrogate_key, F.xxhash64(F.col(natural_key).cast("string"))
        )
    else:
        w = Window.orderBy(F.col(natural_key).asc())
        keyed = distinct_df.withColumn(
            surrogate_key, (F.row_number().over(w) + F.lit(offset)).cast("long")
        )
    return keyed.select(surrogate_key, natural_key)


def build_dimensions(valid_df: DataFrame, key_strategy: str = "dense") -> dict:
    """D2: one distinct+sort per dimension column, each with surrogate keys.

    Returns the reference's IR contract — dict of 6 frames
    (src/transform.py:619-626): dim_date, dim_category, dim_merchant,
    dim_payment_method, dim_user (+ the caller adds fact_data).

    Scale note: each distinct is a partial-agg shuffle on a single narrow
    column; Catalyst prunes the scan to that column. The four distincts
    run as independent jobs and can share the cached valid_df.
    """
    dims = {}
    dims["dim_date"] = build_dim_date_from_facts(valid_df, "date")
    for name, (src_col, nk, sk) in DIMENSION_KEYS.items():
        if sk is None:
            continue
        distinct = (
            valid_df.select(F.col(src_col).alias(nk))
            .filter(F.col(src_col).isNotNull())
            .distinct()
        )
        dims[name] = assign_surrogate_key(distinct, nk, sk, key_strategy).orderBy(nk)
    return dims


def prepare_fact(valid_df: DataFrame) -> DataFrame:
    """P1 + F8: project the 7 fact-prep columns and encode date_key
    (reference src/transform.py:591-605). Keys are attached at load time
    via broadcast joins (J1) — see warehouse.enrich_fact."""
    return valid_df.select(
        "transaction_id",
        date_key("date").alias("date_key"),
        "category",
        "merchant",
        "payment_method",
        "user_id",
        F.col("amount").cast("decimal(10,2)").alias("amount"),
    )
