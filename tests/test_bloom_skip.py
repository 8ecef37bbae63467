"""Bloom-filter file skipping (catalog/bloom.py analyze_bloom +
bloom_prune wired into plan_files): per-file blooms prune eq/IN point
lookups on HIGH-cardinality columns where min/max bounds span the domain
and exact dictionaries overflow — proven by physically removing the
pruned files (poison) and by equivalence sweeps against raw-DataFrame
answers across types, shapes, overflow, all-NULL files, renames, and
compaction."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog.bloom import analyze_bloom
from linkedin_iceberg_spark.expressions import and_, eq, gt, in_, or_

from conftest import SF_DIR


def _orders(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))


def _clustered(catalog, o, name="db.o"):
    """Files hash-clustered by o_custkey: every file's o_custkey bounds
    span the key domain (useless) while each key lives in exactly one
    file — the bloom's home turf."""
    t = catalog.create_table(name, o)
    t.append(o.repartition(8, "o_custkey"))
    return t


def _midkey(o, col="o_custkey"):
    """A MID-domain probe value: the global min/max would be prunable by
    plain bounds (every other file's range starts above/ends below it),
    which is exactly what these tests must NOT rely on."""
    vals = sorted(r[0] for r in o.select(col).distinct().collect())
    return vals[len(vals) // 2]


def test_eq_prunes_files_poison_proven(spark, catalog):
    o = _orders(spark)
    t = _clustered(catalog, o)
    key = int(_midkey(o))
    before = len(t.new_scan().filter(eq("o_custkey", key)).plan_files())
    assert before > 1  # bounds alone could not prune the mid-domain key
    analyze_bloom(t, "o_custkey")
    tasks = t.new_scan().filter(eq("o_custkey", key)).plan_files()
    assert len(tasks) < before
    kept = {x.file.file_path for x in tasks}
    live = {e.data_file.file_path for e in t._live_data_and_deletes()[0]}
    moved = []
    for p in live - kept:
        shutil.move(p, p + ".poison")
        moved.append(p)
    try:
        got = t.new_scan().filter(eq("o_custkey", key)).to_df().count()
        assert got == o.filter(F.col("o_custkey") == key).count()
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)


def test_equivalence_sweep_and_absent_keys(spark, catalog):
    """Many present keys, absent keys, IN sets, and conjuncts with
    ranges answer identically with and without the store."""
    o = _orders(spark)
    t = _clustered(catalog, o)
    analyze_bloom(t, "o_custkey")
    keys = [int(r[0]) for r in
            o.select("o_custkey").distinct().limit(10).collect()]
    for k in keys + [10 ** 9, -5]:
        got = t.new_scan().filter(eq("o_custkey", k)).to_df().count()
        assert got == o.filter(F.col("o_custkey") == k).count()
    f = in_("o_custkey", keys[:4] + [10 ** 9])
    assert t.new_scan().filter(f).to_df().count() == \
        o.filter(F.col("o_custkey").isin(keys[:4] + [10 ** 9])).count()
    f = and_(eq("o_custkey", keys[0]), gt("o_totalprice", 0))
    assert t.new_scan().filter(f).to_df().count() == \
        o.filter((F.col("o_custkey") == keys[0]) &
                 (F.col("o_totalprice") > 0)).count()


def test_or_and_negations_do_not_prune_unsoundly(spark, catalog):
    """Predicates under OR are not top-level conjuncts — the walker
    must ignore them (pruning on one OR branch would drop the
    other's rows)."""
    o = _orders(spark)
    t = _clustered(catalog, o)
    analyze_bloom(t, "o_custkey")
    key = int(o.agg(F.min("o_custkey")).head()[0])
    f = or_(eq("o_custkey", key), gt("o_orderkey", 100))
    assert t.new_scan().filter(f).to_df().count() == \
        o.filter((F.col("o_custkey") == key) |
                 (F.col("o_orderkey") > 100)).count()


def test_string_and_timestamp_columns(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.ost", o)
    t.append(o.repartition(6, "o_custkey"))
    ts = _midkey(o, "o_orderdate")
    before = len(t.new_scan().filter(eq("o_orderdate", ts)).plan_files())
    assert before > 1  # scattered dates: bounds span every file
    analyze_bloom(t, "o_orderpriority")
    analyze_bloom(t, "o_orderdate")
    prio = _midkey(o, "o_orderpriority")
    assert t.new_scan().filter(eq("o_orderpriority", prio)) \
        .to_df().count() == \
        o.filter(F.col("o_orderpriority") == prio).count()
    assert t.new_scan().filter(eq("o_orderpriority", "9-NOSUCH")) \
        .to_df().count() == 0
    scan = t.new_scan().filter(eq("o_orderdate", ts))
    assert len(scan.plan_files()) < before
    assert scan.to_df().count() == \
        o.filter(F.col("o_orderdate") == ts).count()


def test_overflow_never_prunes_but_stays_sound(spark, catalog):
    """A file whose sizing exceeds max_bits stores NULL bits: recorded
    (never rescanned) but never pruned."""
    o = _orders(spark)
    t = catalog.create_table("db.ovf", o)
    t.append(o.repartition(2))
    assert analyze_bloom(t, "o_custkey", max_bits=64) == 2
    assert analyze_bloom(t, "o_custkey", max_bits=64) == 0  # recorded
    key = int(o.agg(F.min("o_custkey")).head()[0])
    scan = t.new_scan().filter(eq("o_custkey", key))
    assert len(scan.plan_files()) == 2  # no advice from overflow rows
    assert scan.to_df().count() == \
        o.filter(F.col("o_custkey") == key).count()


def test_all_null_file_always_prunes(spark, catalog):
    """eq/IN can never match NULL, so a file whose column is all-NULL
    prunes unconditionally (empty bits, the dictionary's empty-array
    contract)."""
    o = _orders(spark).withColumn(
        "maybe", F.when(F.col("o_orderkey") % 2 == 0, F.col("o_custkey")))
    t = catalog.create_table("db.nulls", o)
    t.append(o.filter(F.col("o_orderkey") % 2 == 1)
             .withColumn("maybe", F.lit(None).cast("long")).coalesce(1))
    t.append(o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1))
    analyze_bloom(t, "maybe")
    key = int(o.where(F.col("maybe").isNotNull())
              .agg(F.min("maybe")).head()[0])
    scan = t.new_scan().filter(eq("maybe", key))
    assert len(scan.plan_files()) == 1  # the all-NULL file is gone
    assert scan.to_df().count() == \
        o.filter(F.col("maybe") == key).count()


def test_incremental_sketches_only_the_tail(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.inc", o)
    t.append(o.filter(F.col("o_orderkey") % 3 != 0).repartition(4))
    assert analyze_bloom(t, "o_custkey") == 4
    t.append(o.filter(F.col("o_orderkey") % 3 == 0).coalesce(1))
    assert analyze_bloom(t, "o_custkey") == 1  # only the new file
    key = int(o.agg(F.max("o_custkey")).head()[0])
    assert t.new_scan().filter(eq("o_custkey", key)).to_df().count() == \
        o.filter(F.col("o_custkey") == key).count()


def test_unanalyzed_files_are_untouched(spark, catalog):
    """Files missing from the store never prune — a stale store is
    harmless, not wrong."""
    o = _orders(spark)
    t = _clustered(catalog, o)
    analyze_bloom(t, "o_custkey")
    t.append(o.limit(50).coalesce(1))  # NOT analyzed
    key = int(o.agg(F.min("o_custkey")).head()[0])
    got = t.new_scan().filter(eq("o_custkey", key)).to_df().count()
    want = o.filter(F.col("o_custkey") == key).count() + \
        o.limit(50).filter(F.col("o_custkey") == key).count()
    assert got == want


def test_rename_keeps_store_field_id_keyed(spark, catalog):
    o = _orders(spark)
    t = _clustered(catalog, o)
    key = int(_midkey(o))
    before = len(t.new_scan().filter(eq("o_custkey", key)).plan_files())
    assert before > 1
    analyze_bloom(t, "o_custkey")
    t.update_schema().rename_column("o_custkey", "cust_id").commit()
    t = t.refresh()
    scan = t.new_scan().filter(eq("cust_id", key))
    assert len(scan.plan_files()) < before  # store survived the rename
    assert scan.to_df().count() == \
        o.filter(F.col("o_custkey") == key).count()


def test_compaction_then_reanalyze(spark, catalog):
    """Rewritten files are new paths: unanalyzed (no prune, sound)
    until the next analyze, which sketches ONLY them."""
    from linkedin_iceberg_spark.catalog import maintenance as MA
    o = _orders(spark)
    t = _clustered(catalog, o)
    analyze_bloom(t, "o_custkey")
    MA.rewrite_data_files(t, min_input_files=1)
    t = t.refresh()
    key = int(o.agg(F.min("o_custkey")).head()[0])
    assert t.new_scan().filter(eq("o_custkey", key)).to_df().count() == \
        o.filter(F.col("o_custkey") == key).count()
    n = analyze_bloom(t, "o_custkey")
    assert 0 < n <= len(t.new_scan().plan_files())


def test_sql_point_lookup_inherits_pruning(spark, catalog):
    """Catalog.sql WHERE pushdown parses the eq conjunct into the scan
    filter, so the SQL path prunes through the bloom store with no new
    code."""
    o = _orders(spark)
    t = _clustered(catalog, o)
    key = int(_midkey(o))
    sql = (f"SELECT o_orderkey, o_totalprice FROM db.o "
           f"WHERE o_custkey = {key}")
    read0 = {p.replace("file:", "")
             for p in catalog.sql(sql).inputFiles()}
    assert len(read0) > 1  # bounds alone leave the mid key unpruned
    analyze_bloom(t, "o_custkey")
    df = catalog.sql(sql)
    read1 = {p.replace("file:", "") for p in df.inputFiles()}
    assert len(read1) < len(read0)
    assert df.count() == o.filter(F.col("o_custkey") == key).count()


def test_call_procedure_and_bad_args(spark, catalog):
    o = _orders(spark)
    t = _clustered(catalog, o)
    key = int(_midkey(o))
    before = len(t.new_scan().filter(eq("o_custkey", key)).plan_files())
    import json
    row = catalog.sql(
        "CALL analyze_bloom('db.o', 'o_custkey', '0.001')").head()
    assert row["operation"] == "analyze_bloom"
    assert json.loads(row["detail"])["files_analyzed"] == 8
    assert len(t.new_scan().filter(eq("o_custkey", key))
               .plan_files()) < before
    with pytest.raises(ValueError):
        analyze_bloom(t, "no_such_col")
    with pytest.raises(ValueError):
        analyze_bloom(t, "o_totalprice")  # unsupported type
    with pytest.raises(ValueError):
        analyze_bloom(t, "o_custkey", fpp=0.0)


def test_mismatched_literal_type_skips_conjunct(spark, catalog):
    """A literal that cannot cast to the column type cannot be hashed —
    the conjunct is skipped (sound), never mis-pruned."""
    o = _orders(spark)
    t = _clustered(catalog, o)
    analyze_bloom(t, "o_orderpriority")
    # an integer literal against the string column: try_cast hashes it
    # as a string or nulls out — either way no row is lost
    assert t.new_scan().filter(
        and_(eq("o_orderpriority", "1-URGENT"), gt("o_custkey", 0))) \
        .to_df().count() == \
        o.filter((F.col("o_orderpriority") == "1-URGENT") &
                 (F.col("o_custkey") > 0)).count()


def test_store_duplication_invariance(spark, catalog):
    """Appending the same store rows twice (a crashed analyze retried)
    changes nothing: identical bits give identical verdicts."""
    o = _orders(spark)
    t = _clustered(catalog, o)
    key = int(_midkey(o))
    before = len(t.new_scan().filter(eq("o_custkey", key)).plan_files())
    analyze_bloom(t, "o_custkey")
    from linkedin_iceberg_spark.catalog.stats_store import store
    fid = next(f.field_id for f in t.schema.fields
               if f.name == "o_custkey")
    d = store(t, "bloom", fid).path
    spark.read.parquet(d).write.mode("append").parquet(d)
    scan = t.new_scan().filter(eq("o_custkey", key))
    assert len(scan.plan_files()) < before
    assert scan.to_df().count() == \
        o.filter(F.col("o_custkey") == key).count()


def test_stats_auto_bloom_maintains_at_write_time(spark, catalog):
    """stats.auto=bloom:col extends the store inside append (only the
    commit's new files sketch) and compaction keeps it covered, so
    point lookups stay pruned with no ANALYZE cadence."""
    from linkedin_iceberg_spark.catalog import maintenance as MA
    o = _orders(spark)
    t = catalog.create_table("db.auto", o)
    t.update_properties(set_props={"stats.auto": "bloom:o_custkey"})
    t = t.refresh()
    t.append(o.repartition(8, "o_custkey"))
    key = int(_midkey(o))
    assert analyze_bloom(t, "o_custkey") == 0  # append already covered
    live = len(t.new_scan().plan_files())
    scan = t.new_scan().filter(eq("o_custkey", key))
    assert len(scan.plan_files()) < live
    assert scan.to_df().count() == \
        o.filter(F.col("o_custkey") == key).count()
    MA.rewrite_data_files(t, min_input_files=1)
    t = t.refresh()
    assert analyze_bloom(t, "o_custkey") == 0  # compaction re-covered
    assert t.new_scan().filter(eq("o_custkey", key)).to_df().count() == \
        o.filter(F.col("o_custkey") == key).count()
    # DESCRIBE EXTENDED reports the coverage by column NAME
    rows = {r["col_name"]: r["data_type"]
            for r in catalog.sql("DESCRIBE EXTENDED db.auto").collect()}
    assert "bloom:o_custkey" in rows.get("Statistics", "")


def test_runtime_filter_composes_with_bloom(spark, catalog):
    """runtime_filtered_join's IN-list path goes through plan_files, so
    the bloom store prunes FACT files for the dim's key set with no new
    code — the DPP-analog join reads only the keys' files (poison-
    proven), and a thousand-key IN list hashes in one job."""
    from linkedin_iceberg_spark.catalog.runtime_filter import (
        runtime_filtered_join)
    o = _orders(spark)
    t = _clustered(catalog, o)
    analyze_bloom(t, "o_custkey")
    keys = sorted(int(r[0]) for r in
                  o.select("o_custkey").distinct().limit(5).collect())
    build = spark.createDataFrame([(k,) for k in keys],
                                  "o_custkey bigint")
    # which files survive the IN through the bloom store?
    tasks = t.new_scan().filter(in_("o_custkey", keys)).plan_files()
    live = {e.data_file.file_path
            for e in t._live_data_and_deletes()[0]}
    kept = {x.file.file_path for x in tasks}
    assert len(kept) < len(live)
    moved = []
    for p in live - kept:
        shutil.move(p, p + ".poison")
        moved.append(p)
    try:
        j = runtime_filtered_join(t, build, "o_custkey",
                                  use_key_index=False)
        got = j.count()
        want = o.filter(F.col("o_custkey").isin(keys)).count()
        assert got == want
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)
    # scale shape: a large IN list still hashes in one row-based job
    many = list(range(1, 2001))
    big = spark.createDataFrame([(k,) for k in many], "o_custkey bigint")
    j2 = runtime_filtered_join(t, big, "o_custkey", use_key_index=False)
    assert j2.count() == o.filter(F.col("o_custkey").isin(many)).count()


def test_datasource_read_with_stores_stays_correct(spark, catalog):
    """The Python DataSource plans in a Spark-LESS worker process, so
    store-backed pruning (bloom/dictionary) cannot run its Spark jobs
    there: both prune hooks must silently no-op — NOT crash on the
    absent session — and the pushed filter still answers exactly
    (regression: dictionary_prune used to dereference table.spark
    unguarded on this path)."""
    from linkedin_iceberg_spark.catalog.analyze import analyze_dictionary
    from linkedin_iceberg_spark.sources.batch_source import read_table
    o = _orders(spark)
    t = _clustered(catalog, o)
    analyze_bloom(t, "o_custkey")
    analyze_dictionary(t, "o_orderpriority")
    key = int(_midkey(o))
    got = read_table(spark, t) \
        .filter((F.col("o_custkey") == key) &
                (F.col("o_orderpriority") == "1-URGENT")).count()
    want = o.filter((F.col("o_custkey") == key) &
                    (F.col("o_orderpriority") == "1-URGENT")).count()
    assert got == want


def test_runtime_filter_envelope_path_tightens_with_bloom(spark, catalog):
    """r9: above max_keys the runtime filter degrades to the [min, max]
    envelope, which prunes NOTHING on hash-clustered files — the bloom
    store, probed with the build side's distinct key HASHES, must still
    drop every fact file provably missing all keys (poison-proven)."""
    from linkedin_iceberg_spark.catalog.runtime_filter import (
        runtime_filtered_join)
    o = _orders(spark)
    t = _clustered(catalog, o, name="db.o_rtfb")
    analyze_bloom(t, "o_custkey")
    keys = sorted(int(r[0]) for r in
                  o.select("o_custkey").distinct().limit(6).collect())
    build = spark.createDataFrame([(k,) for k in keys],
                                  "o_custkey bigint")
    # ground truth: the files the bloom store keeps for these keys
    tasks = t.new_scan().filter(in_("o_custkey", keys)).plan_files()
    kept = {x.file.file_path for x in tasks}
    live = {e.data_file.file_path
            for e in t._live_data_and_deletes()[0]}
    assert len(kept) < len(live)
    moved = []
    for p in live - kept:
        shutil.move(p, p + ".poison")
        moved.append(p)
    try:
        # max_keys=4 < 6 distinct keys: forces the envelope path
        j = runtime_filtered_join(t, build, "o_custkey",
                                  use_key_index=False, max_keys=4)
        got = j.count()
        want = o.filter(F.col("o_custkey").isin(keys)).count()
        assert got == want
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)
