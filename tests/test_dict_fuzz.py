"""Soundness fuzz for the dictionary file-skipping plane: random
predicate trees over a dictionary-analyzed table must answer exactly
like the raw DataFrame, whatever mix of eq/IN/ranges/OR/NOT the tree
holds — pruning may only ever drop provably-empty files.  Plus
robustness: duplicated store rows (a concurrent double-analyze) change
nothing."""

import os
import random

from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog.analyze import (
    analyze_dictionary, analyze_table_kmv)
from linkedin_iceberg_spark.expressions import (
    and_, eq, gt, gt_eq, in_, lt, lt_eq, not_, not_eq, or_)

from conftest import SF_DIR

PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
         "9-NOSUCH"]


def _orders(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))


def _rand_pred(rng, depth=0):
    kind = rng.randrange(8 if depth < 2 else 6)
    if kind == 0:
        return eq("o_orderpriority", rng.choice(PRIOS)), None
    if kind == 1:
        vals = rng.sample(PRIOS, rng.randrange(1, 4))
        return in_("o_orderpriority", vals), None
    if kind == 2:
        return not_eq("o_orderpriority", rng.choice(PRIOS)), None
    if kind == 3:
        op = rng.choice([lt, lt_eq, gt, gt_eq])
        return op("o_orderkey", rng.randrange(0, 2000)), None
    if kind == 4:
        return eq("o_custkey", rng.randrange(0, 200)), None
    if kind == 5:
        inner, _ = _rand_pred(rng, depth + 1)
        return not_(inner), None
    a, _ = _rand_pred(rng, depth + 1)
    b, _ = _rand_pred(rng, depth + 1)
    return (and_(a, b) if kind == 6 else or_(a, b)), None


def _spark_pred(rng2):
    """Re-draw the same tree as a Spark Column (seeds kept in sync)."""
    kind = rng2[0].randrange(8 if rng2[1] < 2 else 6)
    rng, depth = rng2
    if kind == 0:
        return F.col("o_orderpriority") == rng.choice(PRIOS)
    if kind == 1:
        vals = rng.sample(PRIOS, rng.randrange(1, 4))
        return F.col("o_orderpriority").isin(vals)
    if kind == 2:
        return F.col("o_orderpriority") != rng.choice(PRIOS)
    if kind == 3:
        op = rng.choice(["lt", "lt_eq", "gt", "gt_eq"])
        v = rng.randrange(0, 2000)
        c = F.col("o_orderkey")
        return {"lt": c < v, "lt_eq": c <= v,
                "gt": c > v, "gt_eq": c >= v}[op]
    if kind == 4:
        return F.col("o_custkey") == rng.randrange(0, 200)
    if kind == 5:
        return ~_spark_pred((rng, depth + 1))
    a = _spark_pred((rng, depth + 1))
    b = _spark_pred((rng, depth + 1))
    return (a & b) if kind == 6 else (a | b)


def test_random_predicates_equivalence(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.fz", o)
    t.append(o.repartition(5, "o_orderpriority"))
    analyze_dictionary(t, "o_orderpriority")
    analyze_dictionary(t, "o_custkey", max_ndv=32)  # mostly overflow
    for seed in range(24):
        expr, _ = _rand_pred(random.Random(seed))
        col = _spark_pred((random.Random(seed), 0))
        got = t.new_scan().filter(expr).to_df().count()
        want = o.filter(col).count()
        assert got == want, (seed, repr(expr), got, want)


def test_duplicate_store_rows_harmless(spark, catalog):
    """A racing double-analyze can append duplicate per-file rows; every
    consumer (pruning, exact distinct, KMV estimate) must be invariant
    to them."""
    o = _orders(spark)
    t = catalog.create_table("db.dup", o)
    t.append(o.repartition(3))
    analyze_dictionary(t, "o_orderpriority")
    analyze_table_kmv(t, ["o_custkey"], k=64)
    # simulate the race: append an exact copy of each store
    from linkedin_iceberg_spark.catalog.stats_store import store
    fid = t.schema.id_for_name("o_orderpriority")
    dd = store(t, "dict", fid).path
    spark.read.parquet(dd).write.mode("append").parquet(dd + ".tmp")
    spark.read.parquet(dd + ".tmp").write.mode("append").parquet(dd)
    kd = store(t, "kmv", t.schema.id_for_name("o_custkey"), k=64).path
    spark.read.parquet(kd).write.mode("append").parquet(kd + ".tmp")
    spark.read.parquet(kd + ".tmp").write.mode("append").parquet(kd)
    prio = o.select("o_orderpriority").first()[0]
    got = t.new_scan().filter(eq("o_orderpriority", prio)).to_df().count()
    assert got == o.filter(F.col("o_orderpriority") == prio).count()
    assert t.new_scan().exact_ndv_from_dict("o_orderpriority") == \
        o.select("o_orderpriority").distinct().count()
    t2 = catalog.create_table("db.dup2", o)
    t2.append(o.coalesce(1))
    assert t.new_scan().approx_ndv("o_custkey", k=64) == \
        t2.new_scan().approx_ndv("o_custkey", k=64)
