"""Pins for the r18 parquet relation memo (catalog.read_parquet_fast):
the opened relation is replayed while its bytes are unchanged (no
re-listing, no re-inference), a rewrite is a fingerprint miss that
re-opens and sees the new data AND schema, and a table over the
fingerprint walk cap skips memoization entirely (bounded driver time
per open — r17 verdict item 5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_zoomcamp_projects_spark import catalog, session


def test_relation_memo_replays_open_and_reinfers_on_rewrite(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(10).withColumn("x", F.col("id") * 2).write.parquet(p)
    df1 = catalog.read_parquet_fast(spark, p)
    assert df1.count() == 10
    # unchanged bytes: the SAME resolved relation comes back — no
    # listing job, no inference job (identity is the strongest pin)
    assert catalog.read_parquet_fast(spark, p) is df1
    # rewritten bytes (different rows AND schema): fingerprint miss,
    # fresh open, new data visible — the memo never serves stale state
    spark.range(7).withColumn("y", F.lit("s")).write.mode("overwrite").parquet(p)
    df2 = catalog.read_parquet_fast(spark, p)
    assert df2 is not df1
    assert df2.count() == 7 and "y" in df2.columns


def test_relation_memo_walk_cap_degrades_to_stock_open(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "big.parquet")
    spark.range(30).repartition(3).write.parquet(p)
    monkeypatch.setattr(session, "_FP_WALK_CAP", 2)
    # over the cap: no memoization (every open is a stock read), but
    # reads stay correct
    a = catalog.read_parquet_fast(spark, p)
    b = catalog.read_parquet_fast(spark, p)
    assert a is not b
    assert a.count() == 30 and b.count() == 30
    assert all(key[1] != (p,) for key in session.memo_keys("relation"))
