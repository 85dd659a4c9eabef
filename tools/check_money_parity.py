"""Rounding-parity proof sweep for the r14 unscaled-long money sums.

The fast aggregation path (determinism.money_unscaled) replaces

    CAST(x AS DECIMAL(18,4))          -- Double.toString -> BigDecimal
                                      --   .setScale(4, HALF_UP)
with
    FLOOR(x * 1e4 + 0.5)              -- pure double/long codegen

per row. The two agree whenever x is a "money-domain" double: the
nearest double to a value whose decimal expansion terminates within 4
fractional digits, with |x| <= ~1e11 (see determinism.py for the error
bound). This sweep *proves the data parity* exhaustively: for every
(table, expression) that any dsum/davg/dsum_diff call site or business
weighted sum feeds, it counts rows where

    CAST(CAST(x AS DECIMAL(18,4)) * 10000 AS BIGINT)   -- exact unscaled
is not null-safe-equal to
    money_unscaled(x)                                   -- fast unscaled

in BOTH Spark and DuckDB, over every SF dir given (plus the degenerate
fixture variants when present). On the Spark side it checks both
spellings of the fast path: the Column builder and the SQL text
(determinism.sql_money_unscaled), which backs spark.sql strings and the
Column API of a column name. Exit 0 iff zero mismatches everywhere.

Usage: python tools/check_money_parity.py [sf_dir ...]
       (default: /root/testdata/sf0.001 sf0.01 sf0.1 + /tmp/degenerate/*)
"""

import glob
import os
import sys

import duckdb
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipeline_gcp_spark.determinism import (  # noqa: E402
    dec,
    money_unscaled,
    sql_money_unscaled,
)

#: every (table, SQL expression) a fast money sum consumes anywhere in
#: the engine (dsum/davg/dsum_diff call sites + business weighted sums).
EXPRS = [
    ("orders", "o_totalprice"),
    ("orders", "o_totalprice * 0.1"),          # relational.commission
    ("customer", "c_acctbal"),
    ("supplier", "s_acctbal"),
    ("part", "p_retailprice"),
    ("lineitem", "l_quantity"),
    ("lineitem", "l_extendedprice"),
    ("lineitem", "l_discount"),
    ("lineitem", "l_extendedprice * (1 - l_discount)"),  # revenue (4 dp)
    ("events", "value"),
]


def main(dirs):
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("money-parity")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    bad = 0
    checked = 0
    for d in dirs:
        for table, expr in EXPRS:
            p = os.path.join(d, f"{table}.parquet")
            if not os.path.exists(p):
                continue
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            # --- Spark: exact unscaled vs fast unscaled, null-safe, for
            # the Column builder and the SQL text ---
            df = spark.read.parquet(p)
            x = F.expr(expr)
            exact_u = (dec(x) * F.lit(10000)).cast("long")
            n_spark = df.where(~exact_u.eqNullSafe(money_unscaled(x))).count()
            sql_u = F.expr(sql_money_unscaled(expr))
            n_sql = df.where(~exact_u.eqNullSafe(sql_u)).count()
            n_rows = df.count()
            # --- DuckDB: same comparison (oracle-side cast semantics).
            # NaN is nulled FIRST, exactly like the oracles' nansafe
            # boundary (determinism.SQL_EVENTS_NANSAFE): DuckDB 1.0
            # raises even on TRY_CAST(NaN AS DECIMAL), so a NaN measure
            # never legally reaches a decimal cast in any oracle. ---
            e = f"(CASE WHEN isnan({expr}) THEN NULL ELSE ({expr}) END)"
            n_duck = con.execute(
                f"""
                SELECT count(*) FROM read_parquet('{src}') WHERE NOT (
                  CAST(TRY_CAST({e} AS DECIMAL(18,4)) * 10000 AS BIGINT)
                  IS NOT DISTINCT FROM
                  CASE WHEN {e} * 1e4 + 0.5 > -1e18
                        AND {e} * 1e4 + 0.5 <  1e18
                       THEN TRY_CAST(floor({e} * 1e4 + 0.5) AS BIGINT)
                  END
                )
                """
            ).fetchone()[0]
            checked += 1
            flag = "" if n_spark == n_sql == n_duck == 0 else "  <-- MISMATCH"
            print(
                f"{d} {table}.{expr}: rows={n_rows} spark_mismatch={n_spark} "
                f"spark_sql_mismatch={n_sql} duckdb_mismatch={n_duck}{flag}"
            )
            bad += n_spark + n_sql + n_duck
    print(f"\n{checked} (dir, expr) pairs checked; total mismatches: {bad}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    dirs = sys.argv[1:] or (
        [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]
        + sorted(glob.glob("/tmp/degenerate/*"))
    )
    main([d for d in dirs if os.path.isdir(d)])
