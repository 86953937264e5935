"""Warehouse load protocol: idempotent appends, surrogate-key stability
across incremental loads, unmatched-key errors, load stats
(reference tests/test_load.py:100-497)."""

from __future__ import annotations

from datetime import datetime

import pytest

from local_etl_csv_to_postgresql_spark.config import ValidationConfig, WarehouseConfig
from local_etl_csv_to_postgresql_spark.operators.transform import transform_transactions
from local_etl_csv_to_postgresql_spark.warehouse import LoadError, Warehouse
from tests.conftest import rows_to_df

CFG = ValidationConfig(max_valid_ts=datetime(2024, 1, 1))


@pytest.fixture
def wh(spark, tmp_path):
    return Warehouse(spark, WarehouseConfig(path=str(tmp_path / "wh")))


def _load(spark, wh, rows):
    res = transform_transactions(rows_to_df(spark, rows), CFG)
    return wh.load_warehouse(res.tables)


def test_fresh_load_counts(spark, wh, valid_rows):
    stats = _load(spark, wh, valid_rows)
    assert stats.status == "success"
    assert stats.fact_inserted == 3 and stats.fact_skipped == 0
    assert stats.dims_inserted["dim_category"] == 3
    assert wh.read("fact_transactions").count() == 3


def test_rerun_is_idempotent(spark, wh, valid_rows):
    _load(spark, wh, valid_rows)
    stats = _load(spark, wh, valid_rows)
    assert stats.fact_inserted == 0 and stats.fact_skipped == 3
    assert wh.read("fact_transactions").count() == 3
    # dims unchanged too
    assert wh.read("dim_category").count() == 3


def test_incremental_appends_only_new(spark, wh, valid_rows):
    _load(spark, wh, valid_rows)
    new_rows = valid_rows + [
        ["t4", "2023-06-18", "Healthcare", "75.00", "Clinic D", "Digital Wallet", "4"],
    ]
    stats = _load(spark, wh, new_rows)
    assert stats.fact_inserted == 1 and stats.fact_skipped == 3
    assert wh.read("fact_transactions").count() == 4


def test_surrogate_keys_stable_across_loads(spark, wh, valid_rows):
    _load(spark, wh, valid_rows)
    before = {
        r["category_name"]: r["category_key"]
        for r in wh.read("dim_category").collect()
    }
    new_rows = valid_rows + [
        ["t4", "2023-06-18", "Entertainment", "75.00", "Cinema E", "Digital Wallet", "4"],
    ]
    _load(spark, wh, new_rows)
    after = {
        r["category_name"]: r["category_key"]
        for r in wh.read("dim_category").collect()
    }
    for name, key in before.items():
        assert after[name] == key  # existing keys untouched
    assert after["Entertainment"] == max(before.values()) + 1  # offset past max


def test_unmapped_key_raises(spark, wh, valid_rows):
    res = transform_transactions(rows_to_df(spark, valid_rows), CFG)
    wh.load_warehouse(res.tables)
    # a fact batch referencing a category no dimension knows
    bad_fact = res.tables["fact_data"].withColumn(
        "category", res.tables["fact_data"].category.substr(1, 2)
    )
    with pytest.raises(LoadError, match="Unmapped"):
        wh.enrich_fact(bad_fact)


def test_enriched_fact_joins_back(spark, wh, valid_rows):
    res = transform_transactions(rows_to_df(spark, valid_rows), CFG)
    wh.load_warehouse(res.tables)
    wh.register_views()
    joined = spark.sql(
        """
        SELECT c.category_name, f.amount FROM fact_transactions f
        JOIN dim_category c ON f.category_key = c.category_key
        ORDER BY f.transaction_id
        """
    ).collect()
    assert [r["category_name"] for r in joined] == ["Groceries", "Dining", "Transportation"]


def test_verify_schema_report(spark, tmp_path):
    from local_etl_csv_to_postgresql_spark.config import EngineConfig, WarehouseConfig
    from local_etl_csv_to_postgresql_spark.operators.transform import (
        transform_transactions,
    )
    from local_etl_csv_to_postgresql_spark.sources.generator import (
        generate_transactions,
    )
    from local_etl_csv_to_postgresql_spark.warehouse import Warehouse

    cfg = EngineConfig(warehouse=WarehouseConfig(path=str(tmp_path / "wh")))
    raw = spark.createDataFrame(
        [{k: str(v) for k, v in r.items()} for r in generate_transactions(200, 10, 1)]
    )
    wh = Warehouse(spark, cfg.warehouse)
    wh.load_warehouse(transform_transactions(raw, cfg.validation).tables)

    report = {(r["check_type"], r["table_name"]): r["status"]
              for r in wh.verify_schema().collect()}
    # every declared table exists with matching columns
    for t in ("fact_transactions", "dim_date", "dim_category", "dim_merchant",
              "dim_payment_method", "dim_user"):
        assert report[("exists", t)] == "pass"
        assert report[("columns", t)] == "pass"
    # constraints all re-derive as passing queries on a clean load
    assert all(s == "pass" for (c, _), s in report.items()
               if c in ("unique_key", "foreign_key", "check_range"))
    assert ("foreign_key", "fact_transactions->dim_user") in report


def test_compact_fact_merges_per_batch_files(spark, tmp_path):
    """Three incremental loads leave >=3 files in a touched month
    partition; compaction rewrites to one file per partition while
    preserving row count and content."""
    from local_etl_csv_to_postgresql_spark.config import (
        EngineConfig,
        WarehouseConfig,
    )
    from local_etl_csv_to_postgresql_spark.pipeline import run_etl_pipeline
    from local_etl_csv_to_postgresql_spark.sources.generator import (
        generate_transactions,
        write_transactions_csv,
    )
    from local_etl_csv_to_postgresql_spark.warehouse import Warehouse

    cfg = EngineConfig(warehouse=WarehouseConfig(path=str(tmp_path / "wh")))
    for i in range(3):
        p = tmp_path / f"tx{i}.csv"
        write_transactions_csv(
            str(p), generate_transactions(200, 10, 1, seed=100 + i)
        )
        res = run_etl_pipeline(spark, str(p), cfg)
        assert res.status == "success"

    wh = Warehouse(spark, cfg.warehouse)
    before_rows = wh.read(cfg.warehouse.fact_table).count()
    stats = wh.compact_fact()
    assert stats["files_after"] < stats["files_before"]
    after = wh.read(cfg.warehouse.fact_table)
    assert after.count() == before_rows
    # one file per month partition after compaction
    import glob

    root = f"{cfg.warehouse.path}/{cfg.warehouse.fact_table}"
    for part_dir in glob.glob(f"{root}/year_month=*"):
        assert len(glob.glob(f"{part_dir}/*.parquet")) == 1


def test_quarantine_captures_rejects_with_rule_labels(spark, tmp_path):
    from local_etl_csv_to_postgresql_spark.config import (
        EngineConfig,
        WarehouseConfig,
    )
    from local_etl_csv_to_postgresql_spark.pipeline import run_etl_pipeline
    from local_etl_csv_to_postgresql_spark.sources.generator import (
        generate_transactions,
        write_transactions_csv,
    )

    rows = generate_transactions(50, 10, 1, seed=5)
    rows[3]["amount"] = "-12.00"      # negative amount
    rows[7]["category"] = "Nonsense"  # bad category
    p = tmp_path / "tx.csv"
    write_transactions_csv(str(p), rows)
    qdir = str(tmp_path / "quarantine")
    cfg = EngineConfig(
        warehouse=WarehouseConfig(path=str(tmp_path / "wh")),
        quarantine_path=qdir,
    )
    res = run_etl_pipeline(spark, str(p), cfg)
    assert res.status == "success"
    q = spark.read.parquet(qdir)
    got = {r["transaction_id"]: r["failed_rules"] for r in q.collect()}
    assert len(got) == 2
    assert any("amount" in v for v in got.values())
    assert any("category" in v for v in got.values())
    # re-run appends (quarantine is an audit log, not a table)
    res2 = run_etl_pipeline(spark, str(p), cfg)
    assert res2.status == "success"
    assert spark.read.parquet(qdir).count() == 4


def test_large_dim_batch_uses_distributed_rank_same_keys(spark, tmp_path):
    """Above large_dim_threshold, load_dimension assigns dense surrogate
    keys via the distributed two-phase rank — the keys must be
    bit-identical to the window path (row_number in natural-key order,
    offset past max existing), just without the one-task sort."""
    from pyspark.sql import functions as F

    from local_etl_csv_to_postgresql_spark.warehouse import Warehouse

    def build(threshold):
        wh = Warehouse(
            spark,
            WarehouseConfig(
                path=str(tmp_path / f"wh_{threshold}"),
                large_dim_threshold=threshold,
            ),
        )
        seed = spark.createDataFrame(
            [(1, "m_000")], ["merchant_key", "merchant_name"]
        )
        wh.load_dimension(seed, "dim_merchant", "merchant_name", "merchant_key")
        batch = spark.range(200).select(
            F.lit(0).cast("long").alias("merchant_key"),
            F.format_string("m_%03d", (F.col("id") * 7 % 500) + 1).alias(
                "merchant_name"
            ),
        ).distinct()
        n = wh.load_dimension(batch, "dim_merchant", "merchant_name", "merchant_key")
        assert n == 200
        return sorted(
            (r["merchant_name"], r["merchant_key"])
            for r in wh.read("dim_merchant").collect()
        )

    via_window = build(threshold=10**9)   # always the window path
    via_ranked = build(threshold=1)       # always the distributed path
    assert via_window == via_ranked
    # keys are dense, start past the seed's max, ordered by natural key
    keys = [k for _, k in via_ranked]
    assert keys == sorted(keys) and keys[0] == 1 and keys[-1] == 201


def test_snapshot_time_travel_across_incremental_loads(spark, tmp_path):
    """Two incremental loads -> two snapshot versions; v1 reads the
    first batch's fact state, v2 both; dims stay readable at both
    versions; the partition column survives file-list reads; and
    compaction prunes the invalidated manifests."""
    import datetime as dt

    from local_etl_csv_to_postgresql_spark.config import (
        EngineConfig,
        WarehouseConfig,
    )
    from local_etl_csv_to_postgresql_spark.operators.transform import (
        transform_transactions,
    )
    from local_etl_csv_to_postgresql_spark.warehouse import LoadError, Warehouse
    from tests.conftest import COLUMNS

    def batch(ids):
        return spark.createDataFrame(
            [
                (f"t{i}", "2023-06-15", "Groceries", "10.00", "M", "Cash", "1")
                for i in ids
            ],
            COLUMNS,
        )

    cfg = EngineConfig(warehouse=WarehouseConfig(path=str(tmp_path / "wh")))
    wh = Warehouse(spark, cfg.warehouse)
    wh.seed_dim_date(dt.date(2023, 1, 1), dt.date(2023, 12, 31))

    stats1 = wh.load_warehouse(transform_transactions(batch(range(3))).tables)
    assert stats1.snapshot_version == 1
    stats2 = wh.load_warehouse(
        transform_transactions(batch(range(3, 8))).tables
    )
    assert stats2.snapshot_version == 2
    assert wh.snapshots() == [1, 2]

    v1 = wh.read_version("fact_transactions", 1)
    v2 = wh.read_version("fact_transactions", 2)
    assert v1.count() == 3
    assert v2.count() == 8
    assert "year_month" in v1.columns  # basePath keeps the partition col
    assert wh.read_version("dim_category", 1).count() >= 1

    # compaction rewrites the fact layout -> old manifests prune
    res = wh.compact_fact()
    assert set(res["snapshots_pruned"]) == {1, 2}
    with pytest.raises(LoadError, match="No snapshot"):
        wh.read_version("fact_transactions", 1)
    # post-compaction snapshot works again
    v3 = wh.snapshot()
    assert wh.read_version("fact_transactions", v3).count() == 8


@pytest.mark.parametrize("drift", ["extra_column", "bigint_user_id"])
def test_verify_schema_reads_on_disk_schema(spark, wh, valid_rows, drift):
    """Tables are read with their declared schema, so the columns check
    must look at the file footers to see drift on disk."""
    _load(spark, wh, valid_rows)
    if drift == "extra_column":
        table, ddl = "dim_merchant", "merchant_key bigint, merchant_name string, note string"
        rows = [(r["merchant_key"], r["merchant_name"], "x")
                for r in wh.read(table).collect()]
    else:
        table, ddl = "dim_user", "user_key bigint, user_id bigint"
        rows = [(r["user_key"], r["user_id"]) for r in wh.read(table).collect()]
    spark.createDataFrame(rows, ddl).write.mode("overwrite").parquet(wh._path(table))
    report = {(r["check_type"], r["table_name"]): r["status"]
              for r in wh.verify_schema().collect()}
    assert report[("columns", table)] == "fail"
    assert report[("columns", "dim_category")] == "pass"


def _max_job_id(spark) -> int:
    # jobs outside any job group (the engine sets none)
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)


def _delta_rows(n_new: int):
    from datetime import date

    from local_etl_csv_to_postgresql_spark.sources.generator import generate_transactions

    rows = [
        [str(r[c]) for c in ("transaction_id", "date", "category", "amount",
                             "merchant", "payment_method", "user_id")]
        for r in generate_transactions(200, 20, 1, seed=31, end_date=date(2025, 12, 1))
    ]
    fresh = [[f"new{i}", "2023-06-20", "Dining", "9.99", f"Fresh Merchant {i}",
              "Cash", str(900 + i)] for i in range(n_new)]
    return rows, rows[:50] + fresh


def test_delta_load_job_budget(spark, wh):
    """Landing a delta (re-delivered ids, new merchants and users) on a
    backfilled warehouse is one set-based dimension merge plus one fact
    append: at most 30 Spark jobs for the whole load."""
    backfill, delta = _delta_rows(5)
    cfg = ValidationConfig(max_valid_ts=datetime(2026, 1, 1))
    wh.load_warehouse(transform_transactions(rows_to_df(spark, backfill), cfg).tables)
    res = transform_transactions(rows_to_df(spark, delta), cfg)
    try:
        first = _max_job_id(spark)
        stats = wh.load_warehouse(res.tables)
        jobs = _max_job_id(spark) - first
    finally:
        res.release()
    assert stats.fact_inserted == 5 and stats.fact_skipped == 50
    assert stats.dims_inserted["dim_merchant"] == 5
    assert stats.dims_inserted["dim_user"] == 5
    assert stats.dims_inserted["dim_date"] == 1
    assert jobs <= 30, f"delta load launched {jobs} Spark jobs"


def test_rerun_writes_no_parquet_file(spark, wh):
    """Re-landing a batch with zero new rows appends nothing: no table,
    fact or dimension, gains a parquet file."""
    import glob

    def files():
        return sorted(glob.glob(f"{wh.cfg.path}/**/*.parquet", recursive=True))

    backfill, _ = _delta_rows(0)
    cfg = ValidationConfig(max_valid_ts=datetime(2026, 1, 1))
    wh.load_warehouse(transform_transactions(rows_to_df(spark, backfill), cfg).tables)
    before = files()
    stats = wh.load_warehouse(
        transform_transactions(rows_to_df(spark, backfill), cfg).tables
    )
    assert stats.fact_inserted == 0 and stats.fact_skipped == len(backfill)
    assert not any(stats.dims_inserted.values())
    assert files() == before
