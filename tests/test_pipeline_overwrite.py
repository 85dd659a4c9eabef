"""The idempotent DAG as the daily job runs it: ``overwrite_run`` twice
for one run date. The rerun must replace that date's raw and master
partitions instead of adding to them, every business table must still
equal DuckDB running the reference SQL over the raw rows, and landing
must be empty after each run. Also pins the DAG's shape: no ANALYZE step,
and the sales export waits only for the CSV file it reads."""

from __future__ import annotations

import glob

import duckdb
import pytest

from datapipeline_gcp_spark.operators import business as biz
from datapipeline_gcp_spark.plans.reference_pipeline import build_reference_pipeline

from tests.conftest import assert_frames_match

RUN_DATE = "20230601"
RAW_AND_MASTER = (
    "raw_layer.r_campaigns",
    "raw_layer.r_transactions",
    "raw_layer.r_sales",
    "master_layer.m_data_model",
)


@pytest.fixture(scope="module")
def rerun(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("overwrite_run")
    landing, archive = str(root / "landing"), str(root / "archive")
    for db in ("raw_layer", "master_layer", "business_layer"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    p = build_reference_pipeline(
        landing, archive, mode="overwrite_run",
        sizes={"campaigns": 200, "transactions": 200},
        retries=1, retry_delay_s=0.0,
    )
    runs, counts = [], []
    for _ in range(2):
        runs.append(p.run(spark, run_date=RUN_DATE))
        counts.append({t: spark.table(t).count() for t in RAW_AND_MASTER})
    return {"pipeline": p, "runs": runs, "counts": counts, "landing": landing}


def test_both_runs_succeed(rerun):
    for results in rerun["runs"]:
        bad = {n: (r.status, r.error) for n, r in results.items() if r.status != "success"}
        assert not bad, f"non-success steps: {bad}"


def test_rerun_leaves_raw_and_master_counts_unchanged(rerun):
    first, second = rerun["counts"]
    assert first == second
    assert first["master_layer.m_data_model"] > 0


def test_landing_is_empty(rerun):
    assert not glob.glob(f"{rerun['landing']}/*/*")


@pytest.mark.parametrize("name", sorted(biz.BUILDERS))
def test_business_table_matches_oracle_after_rerun(spark, rerun, name):
    con = duckdb.connect()
    for t in ("campaigns", "transactions", "sales"):
        raw = spark.table(f"raw_layer.r_{t}").drop("load_date", "src_format").toPandas()
        con.register(f"r_{t}", raw)
    want = con.execute(biz.oracle_for(name, biz.REFERENCE_MASTER_SQL)).df()
    got = spark.table(f"business_layer.{name}").toPandas()
    assert len(got) > 0
    assert_frames_match(got, want, name)


def test_dag_has_no_analyze_step(rerun):
    assert not [n for n in rerun["pipeline"]._steps if "analyze" in n]


def test_sales_export_waits_only_for_its_landed_file(rerun):
    export = rerun["pipeline"]._steps["database_sql.export_sales"]
    assert export.deps == ("api_local.ingest_transactions_csv",)
