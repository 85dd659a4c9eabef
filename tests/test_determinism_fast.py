"""r14 fast money aggregation: the unscaled-long path must be bit-equal
to the literal DECIMAL(18,4) accumulator on the money domain, and must
reproduce the decimal cast's NULL semantics on the specials (NULL, NaN,
±inf, overflow). See determinism.py for the domain and proof sketch;
tools/check_money_parity.py for the exhaustive data sweep."""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datapipeline_gcp_spark.determinism import (
    davg,
    dec,
    dsum,
    dsum_diff,
    money_total,
    money_unscaled,
)

# money-domain values: <=4 decimal digits, mixed signs/magnitudes,
# including the awkward binary cases (x*1e4 not exactly integral).
MONEY = [
    0.0,
    -0.0,
    0.01,
    -0.01,
    0.1,
    904.45,
    -994.28,
    1013.7,
    104997.88,
    499978.59,
    -499978.59,
    123.4567,
    -123.4567,
    0.0001,
    -0.0001,
    99999999999.99,  # 1e11 domain edge
    -99999999999.99,
    50.0,
    328.5,  # repr-tie shapes at 1 dp
    0.285,
    -0.285,
]

#: specials where the decimal cast itself is defined (NULL) under the
#: engine's ANSI session. True overflow (e.g. 1e15) RAISES on the exact
#: path under ANSI while the guarded fast path yields NULL — an
#: out-of-domain divergence documented in determinism.py and covered by
#: test_overflow_is_null_on_fast_path below.
SPECIALS = [None, float("nan"), float("inf"), float("-inf")]


def _halfup_unscaled(x: float) -> int | None:
    """Reference: Spark's cast semantics (shortest repr -> HALF_UP)."""
    if x is None or math.isnan(x) or math.isinf(x):
        return None
    d = Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    u = int(d * 10**4)
    return u if abs(u) < 10**18 else None


def test_money_unscaled_matches_decimal_cast(spark):
    rows = [Row(x=v) for v in MONEY + SPECIALS]
    df = spark.createDataFrame(rows, "x double")
    got = df.select(
        "x",
        money_unscaled("x").alias("fast"),
        (dec("x") * F.lit(10000)).cast("long").alias("exact"),
    ).collect()
    for r in got:
        assert r.fast == r.exact, f"x={r.x!r}: fast={r.fast} exact={r.exact}"
        ref = _halfup_unscaled(r.x)
        assert r.fast == ref, f"x={r.x!r}: fast={r.fast} ref={ref}"


def test_dsum_bitwise_equals_exact_path(spark):
    rows = [Row(g=i % 3, x=v, y=MONEY[(i + 5) % len(MONEY)])
            for i, v in enumerate(MONEY + SPECIALS)]
    df = spark.createDataFrame(rows, "g int, x double, y double")
    fast = df.groupBy("g").agg(
        dsum("x").alias("s"),
        (dsum("x") / F.count("x")).alias("a"),
        dsum_diff("x", "y").alias("d"),
    )
    exact = df.groupBy("g").agg(
        F.sum(dec("x")).cast("double").alias("s"),
        (F.sum(dec("x")).cast("double") / F.count("x")).alias("a"),
        F.sum(dec("x") - dec("y")).cast("double").alias("d"),
    )
    f = {r.g: r for r in fast.collect()}
    e = {r.g: r for r in exact.collect()}
    assert f.keys() == e.keys()
    for g in f:
        for c in ("s", "a", "d"):
            fv, ev = getattr(f[g], c), getattr(e[g], c)
            assert (fv is None and ev is None) or repr(fv) == repr(ev), (
                f"group {g} col {c}: fast={fv!r} exact={ev!r}"
            )


def test_overflow_is_null_on_fast_path(spark):
    """Out-of-domain doubles (beyond DECIMAL(18,4)): the guarded fast
    path yields NULL — matching the non-ANSI decimal cast the dsum
    docstring was written against (under ANSI the exact path raises
    instead; the divergence and the SPARK_GRAFT_EXACT_DECIMAL_SUMS
    escape are documented in determinism.py)."""
    df = spark.createDataFrame([Row(x=1e15), Row(x=-1e15)], "x double")
    got = df.select(money_unscaled("x").alias("u")).collect()
    assert [r.u for r in got] == [None, None]
    for r, ref in zip(got, (_halfup_unscaled(1e15), _halfup_unscaled(-1e15))):
        assert r.u == ref


def test_all_null_and_all_special_groups_sum_to_null(spark):
    df = spark.createDataFrame(
        [Row(g=0, x=None), Row(g=0, x=None),
         Row(g=1, x=float("nan")), Row(g=1, x=float("inf"))],
        "g int, x double",
    )
    got = {r.g: r.s for r in df.groupBy("g").agg(dsum("x").alias("s")).collect()}
    assert got == {0: None, 1: None}


@pytest.mark.parametrize(
    "unscaled",
    [
        0,
        1,
        -1,
        9007199254740993,  # 2^53 + 1: a double-divide would round twice
        -9007199254740993,
        9_200_000_000_000_000_123,  # near long max
        -9_200_000_000_000_000_123,
    ],
)
def test_money_total_single_rounding_beyond_2_53(spark, unscaled):
    got = (
        spark.range(1)
        .select(money_total(F.lit(unscaled).cast("long")).alias("v"))
        .collect()[0]
        .v
    )
    # reference: exact rational S/10^4 -> one correctly-rounded double
    ref = float(Decimal(unscaled) / Decimal(10**4))
    assert repr(got) == repr(ref)


# --- name form: dsum/davg/dsum_diff of a column name are one F.expr of the
# SQL spelling; they must equal the Column-built form on every row. ------

#: both sides of the ±1e18 unscaled guard: |x| just under 1e14 passes it
#: (out of the money domain, so only form-vs-form parity is claimed),
#: just over maps to NULL
NEAR_GUARD = [99999999999999.98, -99999999999999.98,
              100000000000000.02, -100000000000000.02, 2e14, -2e14]
NAME_FIXTURE = SPECIALS + [0.0, -56.78, 12.34, 0.01, -0.01, 1.2345,
                           -9.8765, 0.0001, 104997.88, -499978.59,
                           99999999999.99] + NEAR_GUARD


def _in_domain(v) -> bool:
    return v is None or math.isnan(v) or math.isinf(v) or abs(v) <= 1e11


@pytest.fixture(scope="module")
def name_df(spark):
    n = len(NAME_FIXTURE)
    rows = [Row(id=i, x=v, y=NAME_FIXTURE[(i + 7) % n])
            for i, v in enumerate(NAME_FIXTURE)]
    return spark.createDataFrame(rows, "id int, x double, y double")


def _per_row(df, s, a, d):
    """Each row its own group, so every row's aggregate is compared."""
    return {r.id: (r.s, r.a, r.d) for r in df.groupBy("id").agg(
        s.alias("s"), a.alias("a"), d.alias("d")).collect()}


def _same(got, want) -> bool:
    return all((g is None and w is None) or repr(g) == repr(w)
               for g, w in zip(got, want))


def _exact_aggs():
    return (
        F.sum(dec("x")).cast("double"),
        F.sum(dec("x")).cast("double") / F.count("x"),
        F.sum(dec("x") - dec("y")).cast("double"),
    )


@pytest.mark.parametrize("x, y", [("x", "y"), ("e.x", "e.y")])
def test_name_form_equals_column_form(name_df, x, y):
    df = name_df.alias("e")
    by_name = _per_row(df, dsum(x), davg(x), dsum_diff(x, y))
    by_col = _per_row(df, dsum(F.col("x")), davg(F.col("x")),
                      dsum_diff(F.col("x"), F.col("y")))
    assert by_name.keys() == by_col.keys() == set(range(len(NAME_FIXTURE)))
    for i in by_name:
        assert _same(by_name[i], by_col[i]), (
            f"x={NAME_FIXTURE[i]!r}: name={by_name[i]} column={by_col[i]}")


def test_name_form_equals_exact_decimal_in_domain(name_df):
    keep = [i for i, v in enumerate(NAME_FIXTURE)
            if _in_domain(v) and _in_domain(NAME_FIXTURE[(i + 7) % len(NAME_FIXTURE)])]
    df = name_df.where(F.col("id").isin(keep))
    by_name = _per_row(df, dsum("x"), davg("x"), dsum_diff("x", "y"))
    exact = _per_row(df, *_exact_aggs())
    assert by_name.keys() == exact.keys() == set(keep)
    for i in keep:
        assert _same(by_name[i], exact[i]), (
            f"x={NAME_FIXTURE[i]!r}: name={by_name[i]} exact={exact[i]}")
    # and over one group holding every in-domain row
    total = df.agg(dsum("x"), davg("x"), dsum_diff("x", "y")).first()
    assert _same(tuple(total), tuple(df.agg(*_exact_aggs()).first()))


def test_name_form_keeps_the_optimized_plan(name_df):
    def plan(*aggs):
        q = name_df.groupBy("id").agg(*[a.alias(f"c{i}") for i, a in enumerate(aggs)])
        return re.sub(r"#\d+L?", "#", q._jdf.queryExecution().optimizedPlan().toString())

    assert plan(dsum("x"), davg("x"), dsum_diff("x", "y")) == plan(
        dsum(F.col("x")), davg(F.col("x")), dsum_diff(F.col("x"), F.col("y")))
