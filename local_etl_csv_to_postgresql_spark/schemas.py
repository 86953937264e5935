"""Declared schemas.

The extraction schema reads every column as string (the CSV arrives
untyped; the reference lets pandas infer then coerces during transform —
src/extract.py:159, src/transform.py:219/249/308). Reading all-string and
coercing with ``cast`` reproduces the reference's PERMISSIVE
coerce-then-filter semantics exactly, and keeps schema inference (a full
extra pass over 100 TB of input) out of the plan.

Warehouse schemas mirror the reference star schema DDL
(sql/schema.sql:39-221): fact_transactions + 5 dimensions.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- extraction contract ---------------------------------------------------

TRANSACTIONS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("amount", T.StringType(), True),
        T.StructField("merchant", T.StringType(), True),
        T.StructField("payment_method", T.StringType(), True),
        T.StructField("user_id", T.StringType(), True),
    ]
)

# --- warehouse (star schema, reference sql/schema.sql) ---------------------

DIM_DATE_SCHEMA = T.StructType(
    [
        T.StructField("date_key", T.IntegerType(), False),  # YYYYMMDD
        T.StructField("date", T.DateType(), False),
        T.StructField("year", T.IntegerType(), False),
        T.StructField("quarter", T.IntegerType(), False),
        T.StructField("month", T.IntegerType(), False),
        T.StructField("month_name", T.StringType(), False),
        T.StructField("day", T.IntegerType(), False),
        T.StructField("day_of_week", T.IntegerType(), False),  # ISO 1=Mon..7=Sun
        T.StructField("day_name", T.StringType(), False),
        T.StructField("week_of_year", T.IntegerType(), False),
        T.StructField("is_weekend", T.BooleanType(), False),
    ]
)

DIM_CATEGORY_SCHEMA = T.StructType(
    [
        T.StructField("category_key", T.LongType(), False),
        T.StructField("category_name", T.StringType(), False),
    ]
)

DIM_MERCHANT_SCHEMA = T.StructType(
    [
        T.StructField("merchant_key", T.LongType(), False),
        T.StructField("merchant_name", T.StringType(), False),
    ]
)

DIM_PAYMENT_METHOD_SCHEMA = T.StructType(
    [
        T.StructField("payment_method_key", T.LongType(), False),
        T.StructField("payment_method_name", T.StringType(), False),
    ]
)

DIM_USER_SCHEMA = T.StructType(
    [
        T.StructField("user_key", T.LongType(), False),
        T.StructField("user_id", T.IntegerType(), False),
    ]
)

FACT_TRANSACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType(), False),
        T.StructField("date_key", T.IntegerType(), False),
        T.StructField("category_key", T.LongType(), False),
        T.StructField("merchant_key", T.LongType(), False),
        T.StructField("payment_method_key", T.LongType(), False),
        T.StructField("user_key", T.LongType(), False),
        T.StructField("amount", T.DecimalType(10, 2), False),
    ]
)

DIMENSIONS = {
    "dim_date": DIM_DATE_SCHEMA,
    "dim_category": DIM_CATEGORY_SCHEMA,
    "dim_merchant": DIM_MERCHANT_SCHEMA,
    "dim_payment_method": DIM_PAYMENT_METHOD_SCHEMA,
    "dim_user": DIM_USER_SCHEMA,
}

# dimension -> (fact_data column that feeds it, natural key — the
# reference's UNIQUE column in sql/schema.sql — and surrogate key);
# dim_date's natural key IS its key, so it has no surrogate
DIMENSION_KEYS = {
    "dim_date": ("date_key", "date_key", None),
    "dim_category": ("category", "category_name", "category_key"),
    "dim_merchant": ("merchant", "merchant_name", "merchant_key"),
    "dim_payment_method": ("payment_method", "payment_method_name", "payment_method_key"),
    "dim_user": ("user_id", "user_id", "user_key"),
}
