"""As-of queries vs pandas merge_asof (the semantics oracle)."""

import pandas as pd

from pyspark.sql import functions as F

from catme_etl_j_spark.operators.asof import _view_ts, asof_next_view, asof_purchase_view
from catme_etl_j_spark.sources.tables import load_table


def _merge_asof_view_ts(spark, sf_dir, **merge_kw) -> dict:
    """purchase event_id -> matched view ts, formatted like the queries'
    ``view_ts``; times travel as epoch microseconds, so the pandas side
    is independent of the session and host time zones."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us"))
        .toPandas()
    )
    left = ev[ev.event_type == "purchase"][["event_id", "user_id", "ts_us"]]
    right = ev[ev.event_type == "view"][["user_id", "ts_us"]]
    right = right.assign(view_us=right["ts_us"])  # merge_asof drops the right 'on'
    want = pd.merge_asof(
        left.sort_values("ts_us"), right.sort_values("ts_us"),
        on="ts_us", by="user_id", **merge_kw,
    ).dropna(subset=["view_us"])
    view_ts = pd.to_datetime(want["view_us"].astype("int64"), unit="us")
    return dict(zip(want["event_id"], view_ts.dt.strftime("%Y-%m-%d %H:%M:%S.%f")))


def test_asof_join_matches_merge_asof(spark, sf_dir):
    got = {r["purchase_id"]: r["view_ts"] for r in asof_purchase_view(spark, sf_dir).collect()}
    want = _merge_asof_view_ts(spark, sf_dir, direction="backward")
    assert got and got == want


def test_asof_next_view_matches_merge_asof_forward(spark, sf_dir):
    got = {r["purchase_id"]: r["view_ts"] for r in asof_next_view(spark, sf_dir).collect()}
    want = _merge_asof_view_ts(
        spark, sf_dir, direction="forward", allow_exact_matches=False
    )
    assert got and got == want


def test_asof_join_no_prior_match_is_null(spark, sf_dir):
    """A purchase with no earlier view of its user has no backward match
    (merge_asof's NaT): here every view is moved past every purchase."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    late_views = ev.filter(F.col("event_type") == "view").withColumn(
        "ts", F.lit("2999-01-01").cast("timestamp")
    )
    got = (
        purchases.unionByName(late_views)
        .withColumn("view_ts", _view_ts("backward"))
        .filter(F.col("event_type") == "purchase")
    )
    assert got.count() == purchases.count()
    assert got.filter(F.col("view_ts").isNotNull()).count() == 0


def test_nearest_view_picks_smaller_gap(spark, sf_dir):
    """Nearest must agree with backward/forward where both exist: the
    chosen gap is <= the gap of either one-sided match."""
    from catme_etl_j_spark.operators.asof import asof_nearest_view

    rows = asof_nearest_view(spark, sf_dir).collect()
    assert rows
    assert {r["direction"] for r in rows} == {"backward", "forward"}
    for r in rows:
        assert r["gap_us"] >= 0
        assert r["view_ts"] is not None
