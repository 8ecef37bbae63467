"""KMV statistics plane (catalog/analyze.py): per-file bottom-k
portable-hash sketches, the exact-merge property, the deterministic
integer estimator, store/live path identity, and the Catalog.sql
approx_count_distinct route.

The defining contract (vs the HLL plane): every estimate is REPLAYABLE
by an external SQL engine — kmv_estimate_sql reruns the full
hash -> distinct -> bottom-k -> estimator pipeline in DuckDB and must
match the engine's answer EXACTLY, not within a band."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog.analyze import (
    KMV_DEFAULT_K, analyze_table_kmv, kmv_estimate, kmv_estimate_sql)
from linkedin_iceberg_spark.expressions import lt

from conftest import SF_DIR, duckdb_oracle


def _orders(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))


def _duck_ndv(values_sql, from_sql, k):
    df = duckdb_oracle(
        f"SELECT {kmv_estimate_sql(values_sql, from_sql, k)} AS v")
    return int(df["v"].iloc[0])


def test_incremental_tail_only(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.o", o)
    t.append(o.filter(F.col("o_orderkey") % 3 != 0).repartition(4))
    first = analyze_table_kmv(t, ["o_custkey"], k=64)
    assert first["o_custkey"] == 4
    t.append(o.filter(F.col("o_orderkey") % 3 == 0).coalesce(1))
    second = analyze_table_kmv(t, ["o_custkey"], k=64)
    assert second["o_custkey"] == 1  # only the appended tail
    assert analyze_table_kmv(t, ["o_custkey"], k=64) == {"o_custkey": 0}


def test_estimator_matches_duckdb_exactly(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.o", o)
    t.append(o.repartition(4))
    analyze_table_kmv(t, ["o_custkey", "o_orderpriority"], k=64)
    # estimator path (NDV 150 > k=64) and exact path (NDV 5 < k) both
    # replay bit-for-bit
    assert t.new_scan().approx_ndv("o_custkey", k=64) == \
        _duck_ndv("o_custkey", "orders", 64)
    assert t.new_scan().approx_ndv("o_orderpriority", k=64) == \
        _duck_ndv("o_orderpriority", "orders", 64) == 5


def test_store_and_live_paths_identical(spark, catalog):
    """Coverage only changes I/O, never the value: un-analyzed table ==
    analyzed table == half-analyzed table (merge-exactness of bottom-k)."""
    o = _orders(spark)
    t = catalog.create_table("db.o", o)
    t.append(o.filter(F.col("o_orderkey") % 2 == 0).repartition(3))
    live = t.new_scan().approx_ndv("o_custkey", k=64)  # no store at all
    analyze_table_kmv(t, ["o_custkey"], k=64)          # covers first half
    t.append(o.filter(F.col("o_orderkey") % 2 == 1).repartition(2))
    t2 = catalog.create_table("db.o2", o)
    t2.append(o.repartition(5))
    mixed = t.new_scan().approx_ndv("o_custkey", k=64)   # store + live mix
    fresh = t2.new_scan().approx_ndv("o_custkey", k=64)  # all live
    assert mixed == fresh
    analyze_table_kmv(t, ["o_custkey"], k=64)
    assert t.new_scan().approx_ndv("o_custkey", k=64) == mixed
    # and the first (half-table) live answer replays in DuckDB too
    assert live == _duck_ndv(
        "o_custkey", "(SELECT * FROM orders WHERE o_orderkey % 2 = 0)", 64)


def test_metadata_only_when_covered(spark, catalog):
    """Full coverage + no filter + no deletes => the answer comes from
    the store alone: poison-proven by physically moving the data files."""
    o = _orders(spark)
    t = catalog.create_table("db.o", o)
    t.append(o.repartition(4))
    analyze_table_kmv(t, ["o_custkey"], k=64)
    want = t.new_scan().approx_ndv("o_custkey", k=64)
    moved = []
    for e in t._live_data_and_deletes()[0]:
        p = e.data_file.file_path
        shutil.move(p, p + ".poison")
        moved.append(p)
    try:
        assert t.new_scan().approx_ndv("o_custkey", k=64) == want
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)


def test_filter_and_deletes_fall_back_soundly(spark, catalog):
    """A row filter (residuals) or pending deletes must NOT be served
    from whole-file sketches — the value equals a fresh KMV over the
    actual surviving rows."""
    o = _orders(spark)
    t = catalog.create_table("db.o", o)
    t.append(o.repartition(4))
    analyze_table_kmv(t, ["o_custkey"], k=64)
    got = t.new_scan().filter(lt("o_orderkey", 900)).approx_ndv(
        "o_custkey", k=64)
    assert got == _duck_ndv(
        "o_custkey", "(SELECT * FROM orders WHERE o_orderkey < 900)", 64)
    t.delete_where(lt("o_orderkey", 900))
    got2 = t.new_scan().approx_ndv("o_custkey", k=64)
    assert got2 == _duck_ndv(
        "o_custkey", "(SELECT * FROM orders WHERE o_orderkey >= 900)", 64)


def test_kmv_estimate_pure():
    assert kmv_estimate([5, 1, 3], 8) == 3      # exact: m < k
    assert kmv_estimate([5, 1, 3, 1], 8) == 3   # duplicates collapse
    hs = list(range(1, 10))
    # estimator: floor((k-1) * 2^60 / (h_k + 1))
    assert kmv_estimate(hs, 8) == 7 * (1 << 60) // 9
    assert kmv_estimate([], 4) == 0


def test_sql_route(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.o", o)
    t.append(o.repartition(4))
    analyze_table_kmv(t, ["o_custkey"])
    df = catalog.sql(
        "SELECT approx_count_distinct(o_custkey) AS ndv, count(*) AS n "
        "FROM db.o")
    row = df.first()
    assert row["n"] == o.count()
    assert row["ndv"] == _duck_ndv("o_custkey", "orders", KMV_DEFAULT_K)
    # with a pushable WHERE
    df2 = catalog.sql("SELECT approx_count_distinct(o_custkey) AS ndv "
                      "FROM db.o WHERE o_orderkey < 900")
    assert df2.first()["ndv"] == _duck_ndv(
        "o_custkey", "(SELECT * FROM orders WHERE o_orderkey < 900)",
        KMV_DEFAULT_K)


def test_unknown_column_raises(spark, catalog):
    o = _orders(spark)
    t = catalog.create_table("db.o", o)
    t.append(o)
    with pytest.raises(ValueError, match="no such column"):
        analyze_table_kmv(t, ["nope"])
    with pytest.raises(ValueError, match="no such column"):
        t.new_scan().approx_ndv("nope")


def test_grouped_ndv_identity_partitions(spark, catalog):
    """approx_ndv_grouped: identity-partitioned + store-covered files
    answer per-group from sketches alone (data files physically moved
    away), and the store/live mix is value-identical to all-live."""
    from linkedin_iceberg_spark import PartitionSpec, Schema
    o = _orders(spark)
    spec = PartitionSpec.builder_for(Schema.from_spark(o.schema)) \
        .identity("o_orderstatus").build()
    t = catalog.create_table("db.og", o, spec=spec)
    t.append(o)
    live = t.new_scan().approx_ndv_grouped(["o_orderstatus"],
                                           "o_custkey", k=64)
    analyze_table_kmv(t, ["o_custkey"], k=64)
    moved = []
    for e in t._live_data_and_deletes()[0]:
        p = e.data_file.file_path
        shutil.move(p, p + ".poison")
        moved.append(p)
    try:
        covered = t.new_scan().approx_ndv_grouped(["o_orderstatus"],
                                                  "o_custkey", k=64)
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)
    assert covered == live
    # per-group values replay in DuckDB
    for (st,), v in covered.items():
        assert v == _duck_ndv(
            "o_custkey",
            f"(SELECT * FROM orders WHERE o_orderstatus = '{st}')", 64)


def test_grouped_ndv_sql_route(spark, catalog):
    from linkedin_iceberg_spark import PartitionSpec, Schema
    o = _orders(spark)
    spec = PartitionSpec.builder_for(Schema.from_spark(o.schema)) \
        .identity("o_orderstatus").build()
    t = catalog.create_table("db.og", o, spec=spec)
    t.append(o)
    analyze_table_kmv(t, ["o_custkey"])
    rows = catalog.sql(
        "SELECT o_orderstatus AS st, approx_count_distinct(o_custkey) "
        "AS ndv, count(*) AS n FROM db.og "
        "GROUP BY o_orderstatus ORDER BY st").collect()
    assert len(rows) == o.select("o_orderstatus").distinct().count()
    for r in rows:
        assert r["ndv"] == _duck_ndv(
            "o_custkey",
            f"(SELECT * FROM orders WHERE o_orderstatus = '{r['st']}')",
            KMV_DEFAULT_K)
        assert r["n"] == o.filter(
            F.col("o_orderstatus") == r["st"]).count()


def test_analyze_table_sql_spelling(spark, catalog):
    """ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS | FOR ALL
    COLUMNS] drives both stats planes; the bare form answers
    table-level stats from manifests alone."""
    o = _orders(spark)
    t = catalog.create_table("db.oan", o)
    t.append(o.repartition(3))
    stats = {r["statistic"]: r["value"] for r in catalog.sql(
        "ANALYZE TABLE db.oan COMPUTE STATISTICS").collect()}
    assert stats["data_files"] == 3
    assert stats["row_count"] == o.count()
    rows = catalog.sql(
        "ANALYZE TABLE db.oan COMPUTE STATISTICS "
        "FOR COLUMNS o_custkey, o_orderpriority").collect()
    got = {r["column"]: (r["files_sketched_hll"], r["files_sketched_kmv"])
           for r in rows}
    assert got == {"o_custkey": (3, 3), "o_orderpriority": (3, 3)}
    # both planes now serve: column_stats (HLL) and approx_ndv (KMV)
    from linkedin_iceberg_spark.catalog.analyze import column_stats
    t.refresh()
    st = column_stats(t, "o_custkey")
    exact = o.select("o_custkey").distinct().count()
    assert abs(st["ndv"] - exact) <= max(1, 0.05 * exact)
    assert t.new_scan().approx_ndv("o_custkey") == _duck_ndv(
        "o_custkey", "orders", KMV_DEFAULT_K)
    # FOR ALL COLUMNS sketches every HLL-compatible primitive, and the
    # second run is a no-op (incremental store)
    rows = catalog.sql("ANALYZE TABLE db.oan COMPUTE STATISTICS "
                       "FOR ALL COLUMNS").collect()
    assert all(r["files_sketched_kmv"] == 0 for r in rows
               if r["column"] == "o_custkey")
    assert {r["column"] for r in rows} >= {"o_orderkey", "o_custkey",
                                           "o_orderstatus"}


def test_table_overlap_from_stores(spark, catalog):
    """kmv_table_overlap: decontamination-style overlap between two
    tables answered from the stores (poison: data files moved away),
    every number replayed exactly by DuckDB over the raw slices."""
    o = _orders(spark)
    a_df = o.filter(F.col("o_custkey") < 100)
    b_df = o.filter(F.col("o_custkey") >= 50)
    ta = catalog.create_table("db.a", a_df)
    ta.append(a_df.repartition(3))
    tb = catalog.create_table("db.b", b_df)
    tb.append(b_df.repartition(2))
    analyze_table_kmv(ta, ["o_custkey"], k=64)
    analyze_table_kmv(tb, ["o_custkey"], k=64)
    from linkedin_iceberg_spark.catalog.analyze import kmv_table_overlap
    moved = []
    for t in (ta, tb):
        for e in t._live_data_and_deletes()[0]:
            p = e.data_file.file_path
            shutil.move(p, p + ".poison")
            moved.append(p)
    try:
        got = kmv_table_overlap(ta, "o_custkey", tb, "o_custkey", k=64)
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)
    # replay: DuckDB computes identical bottom-k algebra on raw slices
    h = ("(('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT)")
    df = duckdb_oracle(f"""
WITH a AS (SELECT DISTINCT {h} AS h FROM orders WHERE o_custkey < 100),
     b AS (SELECT DISTINCT {h} AS h FROM orders WHERE o_custkey >= 50),
     ba AS (SELECT h FROM a ORDER BY h LIMIT 64),
     bb AS (SELECT h FROM b ORDER BY h LIMIT 64),
     u AS (SELECT h FROM (SELECT h FROM ba UNION SELECT h FROM bb)
           ORDER BY h LIMIT 64)
SELECT (SELECT count(*) FROM u) AS m,
       (SELECT count(*) FROM u
        WHERE h IN (SELECT h FROM ba) AND h IN (SELECT h FROM bb))
           AS overlap_k""")
    assert got["m"] == int(df["m"].iloc[0])
    assert got["overlap_k"] == int(df["overlap_k"].iloc[0])
    assert got["ndv_a"] == _duck_ndv(
        "o_custkey", "(SELECT * FROM orders WHERE o_custkey < 100)", 64)
    assert got["ndv_b"] == _duck_ndv(
        "o_custkey", "(SELECT * FROM orders WHERE o_custkey >= 50)", 64)
    # estimator band sanity (exact: ndv_a=99, ndv_union=150, k=64) and
    # the integer identity between the published numbers
    assert abs(got["ndv_a"] - 99) <= 99 * 0.2
    assert abs(got["ndv_union"] - 150) <= 150 * 0.2
    assert got["overlap_k"] * got["ndv_union"] // got["m"] == \
        got["intersection_est"]


def test_auto_analyze_property(spark, catalog):
    """stats.auto=kmv:...;dict:... extends the stores at append time —
    after two appends both planes answer with zero data I/O (poison),
    with no explicit ANALYZE ever run."""
    o = _orders(spark)
    t = catalog.create_table("db.auto", o)
    t.update_properties(set_props={
        "stats.auto": "kmv:o_custkey;dict:o_orderpriority"})
    t.append(o.filter(F.col("o_orderkey") % 2 == 0).repartition(2))
    t.append(o.filter(F.col("o_orderkey") % 2 == 1).repartition(2))
    moved = []
    for e in t._live_data_and_deletes()[0]:
        p = e.data_file.file_path
        shutil.move(p, p + ".poison")
        moved.append(p)
    try:
        ndv = t.new_scan().approx_ndv("o_custkey")
        d = catalog.sql("SELECT count(DISTINCT o_orderpriority) AS d "
                        "FROM db.auto").head()["d"]
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)
    assert ndv == _duck_ndv("o_custkey", "orders", KMV_DEFAULT_K)
    assert d == o.select("o_orderpriority").distinct().count()


def test_call_kmv_overlap_and_describe_stats(spark, catalog):
    import json as _json
    o = _orders(spark)
    ta = catalog.create_table("db.ka", o)
    ta.append(o.filter(F.col("o_custkey") < 100))
    tb = catalog.create_table("db.kb", o)
    tb.append(o.filter(F.col("o_custkey") >= 50))
    analyze_table_kmv(ta, ["o_custkey"], k=64)
    analyze_table_kmv(tb, ["o_custkey"], k=64)
    st = catalog.sql("CALL kmv_overlap('db.ka', 'o_custkey', "
                     "'db.kb', 'o_custkey', 64)").head()
    out = _json.loads(st["detail"])
    from linkedin_iceberg_spark.catalog.analyze import kmv_table_overlap
    ta.refresh(); tb.refresh()
    assert out == kmv_table_overlap(ta, "o_custkey", tb, "o_custkey",
                                    k=64)
    from linkedin_iceberg_spark.catalog.analyze import (
        analyze_dictionary_pair, analyze_sample)
    analyze_sample(ta, "o_custkey", k=16, group_col="o_orderpriority")
    analyze_dictionary_pair(ta, ["o_orderpriority", "o_orderstatus"])
    rows = {r["col_name"]: r["data_type"] for r in
            catalog.sql("DESCRIBE EXTENDED db.ka").collect()}
    assert "kmv:o_custkey" in rows["Statistics"]
    assert "sample:o_custkey@o_orderpriority(16)" in rows["Statistics"]
    assert "dict_pair:o_orderstatus+o_orderpriority" in rows["Statistics"]


def test_call_key_index_and_auto_stats_after_compaction(spark, catalog):
    import json as _json
    from linkedin_iceberg_spark.catalog.key_index import lookup_files
    o = _orders(spark)
    t = catalog.create_table("db.ki", o)
    t.update_properties(set_props={"stats.auto": "kmv:o_custkey"})
    t.append(o.filter(F.col("o_orderkey") % 2 == 0).repartition(2))
    t.append(o.filter(F.col("o_orderkey") % 2 == 1).repartition(2))
    st = catalog.sql(
        "CALL build_key_index('db.ki', 'o_orderkey')").head()
    assert _json.loads(st["detail"])["indexed_files"] >= 4
    t.refresh()
    hits = lookup_files(t, "o_orderkey", [1, 2])
    assert 0 < len(hits) <= 4
    # compaction keeps the stats.auto KMV store covered: the answer
    # still comes from the store alone afterwards (poison)
    catalog.sql("CALL rewrite_data_files('db.ki')")
    t.refresh()
    moved = []
    for e in t._live_data_and_deletes()[0]:
        p = e.data_file.file_path
        shutil.move(p, p + ".poison")
        moved.append(p)
    try:
        ndv = t.new_scan().approx_ndv("o_custkey")
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)
    assert ndv == _duck_ndv("o_custkey", "orders", KMV_DEFAULT_K)
    st = catalog.sql(
        "CALL refresh_key_index('db.ki', 'o_orderkey')").head()
    assert st["operation"] == "refresh_key_index"
