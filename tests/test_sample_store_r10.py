"""r10: the per-file SAMPLE plane — quantiles with zero data I/O.

analyze_sample persists each live data file's bottom-k rows by the
portable (value, pos) hash; sampled_quantiles_from_store merges the
stores into the GLOBAL bottom-k (per-file k == serve k, so the KMV
merge property makes store and live paths byte-identical) and applies
the house rank arithmetic.  Deletes / uncovered files force the
identical live recipe; the store path is poison-proven metadata-only."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog.analyze import (
    analyze_sample,
    sampled_quantiles_from_store,
)
from linkedin_iceberg_spark.catalog.stats_store import store


@pytest.fixture()
def tbl(catalog, spark):
    df = spark.createDataFrame(
        [(i, (i * 37) % 1000, f"s{i % 7}") for i in range(600)],
        "id bigint, x bigint, s string")
    t = catalog.create_table("db.sampq", df)
    t.append(df.filter("id < 200").repartition(2))
    t.append(df.filter("id >= 200").repartition(3))
    return t.refresh()


def _rows(df):
    return [(r["pct"], r["n_sampled"], r["quantile_value"])
            for r in df.collect()]


def test_store_path_equals_live_path(tbl):
    live = _rows(sampled_quantiles_from_store(tbl, "x", k=64))
    assert analyze_sample(tbl, "x", k=64) == 5
    served = _rows(sampled_quantiles_from_store(tbl, "x", k=64))
    assert served == live and len(served) == 4


def test_store_path_is_metadata_only(tbl):
    analyze_sample(tbl, "x", k=64)
    want = _rows(sampled_quantiles_from_store(tbl, "x", k=64))
    moved = []
    for e in tbl._live_data_and_deletes()[0]:
        p = e.data_file.file_path
        shutil.move(p, p + ".poison")
        moved.append(p)
    try:
        got = _rows(sampled_quantiles_from_store(tbl, "x", k=64))
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)
    assert got == want


def test_incremental_and_appends_force_live_until_covered(tbl, spark):
    assert analyze_sample(tbl, "x", k=64) == 5
    assert analyze_sample(tbl, "x", k=64) == 0
    extra = spark.createDataFrame([(10_000 + i, 2000 + i, "zz")
                                   for i in range(40)],
                                  "id bigint, x bigint, s string")
    tbl.append(extra.coalesce(1))
    t = tbl.refresh()
    # uncovered tail -> live path, which must SEE the new rows
    got = _rows(sampled_quantiles_from_store(t, "x", pcts=(100,), k=4096))
    assert got[0][2] == 2039
    assert analyze_sample(t, "x", k=64) == 1
    assert got == _rows(
        sampled_quantiles_from_store(t, "x", pcts=(100,), k=4096))


def test_exact_when_population_fits_k(tbl):
    """n_nonnull <= k: the sample IS the population, quantiles exact."""
    from linkedin_iceberg_spark.operators.quantiles import exact_quantiles
    analyze_sample(tbl, "x", k=4096)
    got = _rows(sampled_quantiles_from_store(tbl, "x",
                                             pcts=(1, 50, 99), k=4096))
    exact = [(r["pct"], r["quantile_value"]) for r in
             exact_quantiles(tbl.to_df(), "x", pcts=(1, 50, 99),
                             group_col=None, id_col="id").collect()]
    assert [(p, v) for p, _, v in got] == exact
    assert all(n == 600 for _, n, _ in got)


def test_deletes_force_live_path(tbl, spark):
    analyze_sample(tbl, "x", k=64)
    keys = spark.createDataFrame([(i,) for i in range(0, 600, 2)],
                                 "id bigint")
    tbl.row_delta(equality_delete_keys=keys, key_cols=["id"])
    t = tbl.refresh()
    got = sampled_quantiles_from_store(t, "x", pcts=(100,), k=4096)
    live_max = t.to_df().agg(F.max("x")).head()[0]
    assert got.head()["quantile_value"] == live_max
    assert got.head()["n_sampled"] == 300


def test_rename_keeps_store(tbl):
    analyze_sample(tbl, "x", k=64)
    want = _rows(sampled_quantiles_from_store(tbl, "x", k=64))
    tbl.update_schema().rename_column("x", "y").commit()
    t = tbl.refresh()
    assert analyze_sample(t, "y", k=64) == 0      # store still covers
    assert _rows(sampled_quantiles_from_store(t, "y", k=64)) == want


def test_all_null_and_string_columns(catalog, spark):
    df = spark.createDataFrame(
        [(1, None), (2, None)], "id bigint, s string")
    t = catalog.create_table("db.sampnull", df)
    t.append(df.coalesce(1))
    t.append(spark.createDataFrame([(3, "b"), (4, "a")],
                                   "id bigint, s string").coalesce(1))
    t = t.refresh()
    assert analyze_sample(t, "s", k=8) == 2       # marker row for nulls
    got = _rows(sampled_quantiles_from_store(t, "s", pcts=(50, 100),
                                             k=8))
    assert got == [(50, 2, "a"), (100, 2, "b")]


def _grows(df):
    return [(r["s"], r["pct"], r["n_sampled"], r["quantile_value"])
            for r in df.collect()]


def test_grouped_store_equals_grouped_live(tbl):
    live = _grows(sampled_quantiles_from_store(tbl, "x", k=32,
                                               group_col="s"))
    assert analyze_sample(tbl, "x", k=32, group_col="s") == 5
    served = _grows(sampled_quantiles_from_store(tbl, "x", k=32,
                                                 group_col="s"))
    assert served == live
    assert {g for g, *_ in served} == {f"s{i}" for i in range(7)}
    # grouped and global stores are separate planes
    assert analyze_sample(tbl, "x", k=32) == 5


def test_grouped_store_is_metadata_only_and_null_group(catalog, spark):
    df = spark.createDataFrame(
        [(i, i % 100, None if i % 3 == 0 else f"g{i % 2}")
         for i in range(300)],
        "id bigint, x bigint, s string")
    t = catalog.create_table("db.sampg", df)
    t.append(df.repartition(2))
    t = t.refresh()
    live = _grows(sampled_quantiles_from_store(t, "x", k=64,
                                               group_col="s"))
    assert {g for g, *_ in live} == {None, "g0", "g1"}
    analyze_sample(t, "x", k=64, group_col="s")
    moved = []
    for e in t._live_data_and_deletes()[0]:
        p = e.data_file.file_path
        shutil.move(p, p + ".poison")
        moved.append(p)
    try:
        got = _grows(sampled_quantiles_from_store(t, "x", k=64,
                                                  group_col="s"))
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)
    assert got == live


def test_grouped_call_surface(catalog, spark, tbl):
    import json
    out = catalog.sql(
        "CALL analyze_sample('db.sampq', 'x', 32, 's')").head()
    assert json.loads(out["detail"])["files_analyzed"] == 5
    again = catalog.sql(
        "CALL analyze_sample('db.sampq', 'x', 32, 's')").head()
    assert json.loads(again["detail"])["files_analyzed"] == 0


def test_type_and_arg_guards(tbl):
    with pytest.raises(ValueError):
        analyze_sample(tbl, "nope")
    with pytest.raises(ValueError):
        analyze_sample(tbl, "x", k=0)
    with pytest.raises(ValueError):
        sampled_quantiles_from_store(tbl, "x", pcts=(0,))


def test_sql_approx_percentile_routes_to_plane(catalog, spark, tbl):
    """SELECT approx_percentile(c, f) through Catalog.sql serves the
    ENGINE's deterministic sample semantics — store-backed when
    covered, identical live recipe before coverage; WHERE clauses and
    non-integer percents take the generic Spark route."""
    t = catalog.load_table("db.sampq")
    want = {p: sampled_quantiles_from_store(t, "x", pcts=(p,), k=1024)
            .head()["quantile_value"] for p in (50, 90)}
    pre = catalog.sql("SELECT approx_percentile(x, 0.5) AS p50, "
                      "percentile_approx(x, 0.9) AS p90 "
                      "FROM db.sampq").head()
    assert (pre["p50"], pre["p90"]) == (want[50], want[90])
    analyze_sample(t, "x")          # default k matches the SQL route
    moved = []
    for e in t._live_data_and_deletes()[0]:
        p = e.data_file.file_path
        shutil.move(p, p + ".poison")
        moved.append(p)
    try:
        got = catalog.sql("SELECT approx_percentile(x, 0.5) AS p50, "
                          "count(*) AS n FROM db.sampq").head()
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)
    assert got["p50"] == want[50] and got["n"] == 600
    # WHERE / finer-than-percent fractions: generic route, still sane
    assert catalog.sql("SELECT approx_percentile(x, 0.5) AS p "
                       "FROM db.sampq WHERE id < 100").head()["p"] \
        is not None
    assert catalog.sql("SELECT approx_percentile(x, 0.505) AS p "
                       "FROM db.sampq").head()["p"] is not None


def test_vacuum_gcs_sample_store_and_serving_survives(tbl, spark):
    """The sample store participates in vacuum_stats GC: after
    compaction + expiry the dead files' k-row blocks drop, live blocks
    stay, and the store still serves (covered by the compacted file's
    fresh rows)."""
    import time

    from linkedin_iceberg_spark.catalog.maintenance import vacuum_stats
    analyze_sample(tbl, "x", k=64)
    tbl.rewrite_data_files(target_size_bytes=1 << 30, min_input_files=2)
    t = tbl.refresh()
    analyze_sample(t, "x", k=64)
    t.expire_snapshots(older_than_ms=int(time.time() * 1000) + 1000,
                       retain_last=1)
    t = t.refresh()
    out = vacuum_stats(t)
    rel = [s for s in out["stores"] if s.startswith("stats_sample")]
    assert rel and out["stores"][rel[0]] > 0
    live = {e.data_file.file_path for e in t._live_data_and_deletes()[0]}
    d = store(t, "sample", t.schema.id_for_name("x"), k=64).path
    kept = {r["file_path"] for r in spark.read.parquet(d)
            .select("file_path").distinct().collect()}
    assert kept == live
    got = _rows(sampled_quantiles_from_store(t, "x", k=64))
    assert len(got) == 4 and all(n > 0 for _, n, _ in got)


def test_mixed_format_store_equals_live(catalog, spark):
    """The plane is format-agnostic: ORC/Avro files sample through the
    whole-file readers' exact per-file row counter — the store path
    over a parquet+ORC+Avro table matches the live _pos recipe
    byte-for-byte."""
    df = spark.createDataFrame([(i, (i * 13) % 40) for i in range(300)],
                               "id bigint, x bigint")
    t = catalog.create_table("db.sampmix", df)
    t.append(df.filter("id < 100").coalesce(1))        # parquet
    t.update_properties(set_props={"write.format-default": "orc"})
    t = t.refresh()
    t.append(df.filter("id >= 100 and id < 200").coalesce(1))
    t.update_properties(set_props={"write.format-default": "avro"})
    t = t.refresh()
    t.append(df.filter("id >= 200").coalesce(1))
    t = t.refresh()
    fmts = {e.data_file.file_path.rsplit(".", 1)[-1]
            for e in t._live_data_and_deletes()[0]}
    assert fmts == {"parquet", "orc", "avro"}
    live = _rows(sampled_quantiles_from_store(t, "x", k=32))
    assert analyze_sample(t, "x", k=32) == 3
    assert _rows(sampled_quantiles_from_store(t, "x", k=32)) == live
    got = _rows(sampled_quantiles_from_store(t, "x", pcts=(100,),
                                             k=4096))
    assert got == [(100, 300, 39)]


def test_call_and_stats_auto(catalog, spark):
    import json
    df = spark.createDataFrame([(i, i % 50) for i in range(300)],
                               "id bigint, x bigint")
    t = catalog.create_table("db.sampauto", df)
    t.update_properties(set_props={"stats.auto": "sample:x"})
    t = t.refresh()
    t.append(df.coalesce(1))
    t = t.refresh()
    # the write maintained the store: nothing left to analyze
    out = catalog.sql("CALL analyze_sample('db.sampauto', 'x')").head()
    assert json.loads(out["detail"])["files_analyzed"] == 0
    d = store(t, "sample", t.schema.id_for_name("x"), k=1024).path
    assert os.path.isdir(d)
