"""The delete-applying read and the upsert do each piece of work once.

- Building a delete-applying read (``Table.to_df()``, ``Catalog.sql``)
  launches no Spark job: equality-delete files are read under a schema
  built from their ``equality_ids``, never a footer-inferring read.
- Equality-delete files that share one ``equality_ids`` set and apply to
  one group of data files cost one anti-join, not one per file.
- Equality-delete keys are written in the table's key types, so a source
  whose key is narrower than the table's column reads back exactly.
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def _jobs_in_group(spark, gid, fn):
    """Spark job ids launched while ``fn()`` runs under job group ``gid``."""
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return out, list(sc.statusTracker().getJobIdsForGroup(gid))


def _keyed(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"),
                                      (F.col("id") * 2).alias("v"))


@pytest.fixture(scope="module")
def laden(spark, tmp_path_factory):
    """A catalog and its table carrying a position-delete file and at
    least two equality-delete files on the same key set, all applying to
    the table's one data file."""
    from linkedin_iceberg_spark import Catalog
    from linkedin_iceberg_spark.catalog import manifests as M
    catalog = Catalog(spark, str(tmp_path_factory.mktemp("lean")))
    t = catalog.create_table("db.lean", _keyed(spark, 0, 1))
    t.append(_keyed(spark, 0, 100).coalesce(1))
    path = t.new_scan().plan_files()[0].file.file_path
    t.row_delta(position_deletes=spark.createDataFrame(
        [(path, 0), (path, 1)], "file_path string, pos bigint"))
    t.row_delta(equality_delete_keys=_keyed(spark, 10, 15).select("k"),
                key_cols=["k"])
    t.row_delta(equality_delete_keys=_keyed(spark, 20, 25).select("k"),
                key_cols=["k"])
    _entries, deletes = t._live_data_and_deletes()
    assert sum(d.data_file.content == M.CONTENT_EQUALITY_DELETES
               for d in deletes) >= 2
    return catalog, t


def test_building_a_delete_applying_read_launches_no_job(laden, spark):
    catalog, t = laden
    df, jobs = _jobs_in_group(spark, "lean-to-df", t.to_df)
    assert jobs == []
    sql, jobs = _jobs_in_group(
        spark, "lean-sql",
        lambda: catalog.sql("SELECT k, v FROM db.lean WHERE v >= 0"))
    assert jobs == []
    # the probe does see jobs: the action itself launches some
    rows, jobs = _jobs_in_group(spark, "lean-action", sql.collect)
    assert jobs
    want = sorted(k for k in range(2, 100)
                  if not 10 <= k < 15 and not 20 <= k < 25)
    assert sorted(r.k for r in rows) == want
    assert sorted(r.k for r in df.collect()) == want


def test_one_anti_join_per_equality_id_set(laden):
    _catalog, t = laden
    buf = io.StringIO()
    with redirect_stdout(buf):
        t.to_df().explain()
    # one anti-join for the position deletes, one for the key set
    assert buf.getvalue().count("LeftAnti") == 2


def test_narrow_key_source_against_wide_key_column(catalog, spark):
    """An int key source against a bigint key column: the equality-delete
    file is written as bigint, and the typed read matches it exactly."""
    t = catalog.create_table("db.lean_types", _keyed(spark, 0, 1))
    t.append(_keyed(spark, 0, 50))
    src = spark.range(10, 20).select(F.col("id").cast("int").alias("k"),
                                     F.lit(-1).cast("long").alias("v"))
    t.upsert(src, ["k"])
    got = sorted(map(tuple, t.to_df().collect()))
    assert got == [(k, -1 if 10 <= k < 20 else 2 * k) for k in range(50)]

    t.row_delta(equality_delete_keys=spark.range(30, 35).select(
        F.col("id").cast("int").alias("k")), key_cols=["k"])
    got = sorted(map(tuple, t.to_df().collect()))
    assert got == [(k, -1 if 10 <= k < 20 else 2 * k)
                   for k in range(50) if not 30 <= k < 35]
    assert dict(t.to_df().dtypes)["k"] == "bigint"


def test_key_column_renamed_after_equality_deletes(catalog, spark):
    """Equality-delete files are read under the schema they were written
    under: files written before and after a key rename share one key set
    and both still match by field id."""
    t = catalog.create_table("db.lean_rename", _keyed(spark, 0, 1))
    t.append(_keyed(spark, 0, 50).coalesce(1))  # one group
    t.row_delta(equality_delete_keys=_keyed(spark, 10, 15).select("k"),
                key_cols=["k"])
    t.update_schema().rename_column("k", "key").commit()
    t.row_delta(equality_delete_keys=_keyed(spark, 20, 25)
                .select(F.col("k").alias("key")), key_cols=["key"])
    got = sorted(r.key for r in t.to_df().collect())
    assert got == [k for k in range(50)
                   if not 10 <= k < 15 and not 20 <= k < 25]
    buf = io.StringIO()
    with redirect_stdout(buf):
        t.to_df().explain()
    assert buf.getvalue().count("LeftAnti") == 1
