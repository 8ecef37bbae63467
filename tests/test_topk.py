"""Heavy-hitter plane (catalog/analyze.py analyze_topk +
approx_top_k): per-file truncated histograms merge into exact
[lower, upper] count bounds with a per-row GUARANTEED flag — the
SpaceSaving/Misra-Gries algebra applied per immutable file.  Bounds
are validated against true counts across truncation widths, coverage
gaps, deletes, and a skewed distribution whose hitters must come back
guaranteed."""

import os

import pytest
from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog.analyze import (analyze_topk,
                                                    approx_top_k)

from conftest import SF_DIR


def _orders(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))


def _true_counts(df, col):
    return {r[col]: r["n"] for r in
            df.groupBy(col).agg(F.count("*").alias("n")).collect()}


def test_exact_regime_matches_true_topk(spark, catalog):
    """m above every file's NDV: lower == upper == true count, every
    row guaranteed, order identical to the exact GROUP BY top-k."""
    o = _orders(spark)
    t = catalog.create_table("db.o", o)
    t.append(o.repartition(4))
    assert analyze_topk(t, "o_custkey", m=4096) == 4
    assert analyze_topk(t, "o_custkey", m=4096) == 0  # incremental
    true = _true_counts(o, "o_custkey")
    top = sorted(true.items(), key=lambda x: (-x[1], x[0]))[:10]
    got = approx_top_k(t, "o_custkey", 10, m=4096)
    assert [(v, lo) for v, lo, _hi, _g in got] == top
    assert all(lo == hi == true[v] for v, lo, hi, _g in got)
    assert all(g for *_x, g in got)


def test_truncated_bounds_are_valid(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.tr", o)
    t.append(o.repartition(4))
    analyze_topk(t, "o_custkey", m=8)
    true = _true_counts(o, "o_custkey")
    for v, lo, hi, _g in approx_top_k(t, "o_custkey", 20, m=8):
        assert lo <= true[v] <= hi


def test_skewed_hitters_come_back_guaranteed(spark, catalog):
    """Half the mass on one value: even a tiny m must return it first
    AND prove it (guaranteed=True), because no unseen value's upper
    bound can reach its lower bound."""
    o = _orders(spark).withColumn(
        "dom", F.when(F.col("o_orderkey") % 2 == 0, F.lit("hot.com"))
        .otherwise(F.concat(F.lit("u"), F.col("o_orderkey"))))
    t = catalog.create_table("db.sk", o)
    t.append(o.repartition(4))
    analyze_topk(t, "dom", m=8)
    got = approx_top_k(t, "dom", 3, m=8)
    true = _true_counts(o, "dom")
    assert got[0][0] == "hot.com" and got[0][3] is True
    assert got[0][1] == true["hot.com"]  # a stored hitter's lb is exact
    for v, lo, hi, _g in got:
        assert lo <= true[v] <= hi


def test_coverage_gap_summarized_live(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.gap", o)
    t.append(o.filter(F.col("o_orderkey") % 2 == 0).repartition(2))
    analyze_topk(t, "o_orderpriority", m=16)
    t.append(o.filter(F.col("o_orderkey") % 2 == 1).coalesce(1))
    true = _true_counts(o, "o_orderpriority")
    got = approx_top_k(t, "o_orderpriority", 5, m=16)
    # 5 distinct values, m=16: exact everywhere despite the gap
    assert {v: lo for v, lo, _hi, _g in got} == true
    assert all(lo == hi for _v, lo, hi, _g in got)


def test_deletes_force_exact_live_computation(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.del", o)
    t.append(o.repartition(3))
    analyze_topk(t, "o_orderpriority", m=16)
    dead = o.filter(F.col("o_orderkey") < 300).select("o_orderkey")
    t.row_delta(equality_delete_keys=dead, key_cols=["o_orderkey"])
    t = t.refresh()
    alive = o.filter(~(F.col("o_orderkey") < 300))
    true = _true_counts(alive, "o_orderpriority")
    got = approx_top_k(t, "o_orderpriority", 5)
    assert {v: lo for v, lo, _hi, _g in got} == true
    assert all(lo == hi and g for _v, lo, hi, g in got)


def test_call_procedures_and_describe(spark, catalog):
    import json
    o = _orders(spark)
    t = catalog.create_table("db.call", o)
    t.append(o.repartition(2))
    r = catalog.sql(
        "CALL analyze_topk('db.call', 'o_orderpriority', 16)").head()
    assert json.loads(r["detail"])["files_analyzed"] == 2
    rows = catalog.sql(
        "CALL approx_top_k('db.call', 'o_orderpriority', 3, 16)") \
        .collect()
    true = _true_counts(o, "o_orderpriority")
    top3 = sorted(true.items(), key=lambda x: (-x[1], x[0]))[:3]
    assert [(r["value"], r["lower"]) for r in rows] == \
        [(str(v), n) for v, n in top3]
    assert all(r["guaranteed"] for r in rows)
    catalog.sql("CALL analyze_sample('db.call', 'o_custkey', 16)")
    catalog.sql("CALL analyze_dictionary_pair('db.call', "
                "'o_orderstatus', 'o_orderpriority')")
    d = {x["col_name"]: x["data_type"]
         for x in catalog.sql("DESCRIBE EXTENDED db.call").collect()}
    assert "topk:o_orderpriority(16)" in d.get("Statistics", "")
    assert "sample:o_custkey(16)" in d["Statistics"]
    assert "dict_pair:o_orderstatus+o_orderpriority" in d["Statistics"]


def test_bad_args(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.bad", o)
    t.append(o.coalesce(1))
    with pytest.raises(ValueError):
        analyze_topk(t, "nope")
    with pytest.raises(ValueError):
        analyze_topk(t, "o_totalprice")
    with pytest.raises(ValueError):
        analyze_topk(t, "o_custkey", m=0)
    with pytest.raises(ValueError):
        approx_top_k(t, "o_custkey", 0)


def test_stats_auto_topk(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.auto", o)
    t.update_properties(set_props={"stats.auto": "topk:o_orderpriority"})
    t = t.refresh()
    t.append(o.repartition(3))
    assert analyze_topk(t, "o_orderpriority") == 0  # append covered it
    true = _true_counts(o, "o_orderpriority")
    got = approx_top_k(t, "o_orderpriority", 5)
    assert {v: lo for v, lo, _hi, _g in got} == true


def test_all_null_file_recorded_not_rescanned(spark, catalog):
    o = _orders(spark).withColumn(
        "maybe", F.when(F.col("o_orderkey") % 2 == 0,
                        F.col("o_orderpriority")))
    t = catalog.create_table("db.an", o)
    t.append(o.filter(F.col("o_orderkey") % 2 == 1)
             .withColumn("maybe", F.lit(None).cast("string"))
             .coalesce(1))
    t.append(o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1))
    assert analyze_topk(t, "maybe", m=16) == 2
    assert analyze_topk(t, "maybe", m=16) == 0  # all-NULL file recorded
    want = _true_counts(o.filter(F.col("o_orderkey") % 2 == 0),
                        "o_orderpriority")
    got = approx_top_k(t, "maybe", 5, m=16)
    assert {v: lo for v, lo, _hi, _g in got} == want
    assert all(lo == hi and g for _v, lo, hi, g in got)
