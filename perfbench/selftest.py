"""Self-test of the benchmark's correctness gates.

    python3 perfbench/selftest.py

Run from the root of a checkout. On small real outputs of the program it
shows each gate passing, then failing once the output or the recorded
truth is corrupted:

- ingest: a wrong expected rejected count, and a duplicate id in the
  validation report, are both caught;
- operator_library: a query result with one row dropped no longer
  matches its DuckDB oracle.

Exit status 0 when every gate behaves as expected, 1 otherwise.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import sys


def main() -> int:
    import run

    root = os.getcwd()
    work_dir = os.path.join(root, run.OUT_DIR, f"selftest-{os.getpid()}")
    spark = run.start_spark(root, work_dir)
    outcomes = []

    def expect(label: str, problems: list[str], should_fail: bool) -> None:
        ok = bool(problems) == should_fail
        outcomes.append(ok)
        verdict = "caught" if problems else "clean"
        print(f"{'PASS' if ok else 'FAIL'}  {label}: {verdict} {problems[:2]}")

    try:
        import duckdb

        import workloads
        from inputs import MAX_VALID_TS, make_library_tables, make_transaction_batches
        from local_etl_csv_to_postgresql_spark import run_queries
        from local_etl_csv_to_postgresql_spark.config import (
            EngineConfig,
            ValidationConfig,
            WarehouseConfig,
        )
        from local_etl_csv_to_postgresql_spark.pipeline import run_etl_pipeline
        from local_etl_csv_to_postgresql_spark.warehouse import Warehouse

        # ingest: load a backfill and one delta, then corrupt the truth
        backfill, delta = make_transaction_batches(
            os.path.join(work_dir, "inputs"), seed=7, backfill_rows=2_000,
            delta_rows=1_000, n_deltas=1, users=200,
        )
        cfg = EngineConfig(
            validation=ValidationConfig(max_valid_ts=MAX_VALID_TS),
            warehouse=WarehouseConfig(path=os.path.join(work_dir, "wh")),
        )
        res = run_etl_pipeline(spark, backfill.path, cfg)
        expect("ingest backfill counts", workloads.check_batch(backfill, res), False)
        res = run_etl_pipeline(spark, delta.path, cfg)
        expect("ingest delta counts", workloads.check_batch(delta, res), False)
        wrong = dataclasses.replace(delta, dirty=delta.dirty + 1)
        expect("ingest delta, expected rejects off by one",
               workloads.check_batch(wrong, res), True)

        Warehouse(spark, cfg.warehouse).register_views()
        corpus = run_queries.parse_queries_file(run_queries.DEFAULT_CORPUS)
        answers = {
            q: run_queries.run_query(spark, corpus[q - 1])
            for q in run_queries.VALIDATION_QUERY_INDEXES
        }
        fact_rows = backfill.inserted + delta.inserted
        expect("ingest validation report",
               workloads.check_validation(answers, fact_rows), False)
        answers[3] = ([{"transaction_id": "x", "occurrences": 2}], 1)
        expect("ingest validation report with a duplicate id",
               workloads.check_validation(answers, fact_rows), True)

        # operator_library: drop one row of a real result
        check_oracle = workloads.load_check_oracle(root)
        sf = make_library_tables(os.path.join(work_dir, "sf"), seed=7, scale=0.001)
        con = duckdb.connect()
        for table in check_oracle.TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf}/{table}.parquet'")
        name = "q00_pricing_summary"
        got = check_oracle.entrypoint.queries()[name](spark, sf).toPandas()
        want = con.execute(check_oracle.entrypoint.oracle_sql()[name]).fetchdf()
        con.close()
        expect(f"operator_library {name}", check_oracle.compare(name, got, want), False)
        expect(f"operator_library {name} with a dropped row",
               check_oracle.compare(name, got.iloc[1:], want), True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(f"{sum(outcomes)}/{len(outcomes)} gate checks behaved as expected")
    return 0 if all(outcomes) else 1


if __name__ == "__main__":
    sys.exit(main())
