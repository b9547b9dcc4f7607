"""`plans.query.isin_strings`: a string literal set built in one JVM call
gives the same optimized plan and rows as `Column.isin`, falls back to
`Column.isin` where the joined form cannot carry the values, and keeps
snapshot planning from converting a cover one literal at a time."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic import column as classic_column

from explora_kafka_spark.functions import geo
from explora_kafka_spark.plans import query as Q


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def cells(spark):
    return spark.createDataFrame(
        [(f"u{i:05d}", i) for i in range(1500)], "gh string, n int")


@pytest.mark.parametrize("n", [1, 11, 600])
def test_plan_and_rows_equal_column_isin(cells, n):
    values = [f"u{i:05d}" for i in range(0, 2 * n, 2)] + ["absent"]
    ours = cells.filter(Q.isin_strings(F.col("gh"), values))
    ref = cells.filter(F.col("gh").isin(values))
    assert _optimized(ours) == _optimized(ref)
    assert sorted(ours.collect()) == sorted(ref.collect())
    assert ours.count() == n


def test_substring_predicate_equals_column_isin(cells):
    values = ["u000", "u011"]
    pref = F.substring("gh", 1, 4)
    ours = cells.filter(Q.isin_strings(pref, values))
    ref = cells.filter(pref.isin(values))
    assert _optimized(ours) == _optimized(ref)
    assert ours.count() == 200


def test_quote_backslash_and_separator_values(spark):
    raw = ["a'b", "c\\d", "e,f", "g", "", "h'); DROP TABLE x; --"]
    df = spark.createDataFrame([(v,) for v in raw + ["e", "f"]], "gh string")
    for values in (raw[:2], raw, ["e,f"], [""], ["", "g"]):
        got = sorted(r.gh for r in
                     df.filter(Q.isin_strings(F.col("gh"), values)).collect())
        assert got == sorted(values), values


def test_non_string_and_empty_values(cells):
    ints = cells.filter(Q.isin_strings(F.col("n"), [3, 5, 7]))
    assert sorted(r.n for r in ints.collect()) == [3, 5, 7]
    assert cells.filter(Q.isin_strings(F.col("gh"), [])).count() == 0


def test_antwerp_snapshot_plans_without_per_cell_literals(spark, monkeypatch):
    """The reference request's precision-6 Antwerp cover (hundreds of
    cells) is planned with a handful of literal conversions, not one per
    cell."""
    lattice = spark.createDataFrame(
        [("pm10", 6, "min", "u155kf", datetime.datetime(2024, 1, 1), 1,
          2.0, 2.0, 2.0)],
        "metric_id string, precision int, res string, gh string, "
        "ts timestamp, count long, sum double, min double, max double")
    north, west, south, east = 51.311646, 4.306641, 51.168823, 4.504395
    cover = geo.geohash_cover_bbox(north, west, south, east, 6)
    assert len(cover) > 100
    made = []
    orig = classic_column._create_column_from_literal

    def counting(lit):
        made.append(lit)
        return orig(lit)

    monkeypatch.setattr(classic_column, "_create_column_from_literal",
                        counting)
    Q.snapshot_bbox_geohashing(lattice, "pm10", "avg", 6, "min",
                               1_000, north, west, south, east)
    assert len(made) < 20
