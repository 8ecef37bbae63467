"""r11: delete-tolerant sample-plane serving.

Pending POSITION deletes no longer force the live path: store rows carry
(file_path, pos), so the sequence-scoped delete rows anti-join them away
and the serve stays a metadata read after any MERGE/DELETE.  The
exactness guard falls back to live when the final bottom-k would consume
every remaining masked row of a truncated file (the file's next-ranked
live rows were never stored).  Equality deletes still fall back.

Every test compares against the byte-identical live replay (the same
function with the store hidden), and the store path is poison-proven by
physically hiding every data file while the result materializes."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog.analyze import (
    analyze_sample,
    sampled_quantiles_from_store,
)


@pytest.fixture()
def tbl(catalog, spark):
    df = spark.createDataFrame(
        [(i, (i * 37) % 1000, f"s{i % 3}") for i in range(600)],
        "id bigint, x bigint, s string")
    t = catalog.create_table("db.sampdel", df)
    t.append(df.filter("id < 200").repartition(2))
    t.append(df.filter("id >= 200").repartition(3))
    return t.refresh()


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _live_replay(t, *args, **kw):
    """The identical recipe with the store hidden: forces the live path."""
    d = os.path.join(t.location, "stats_sample")
    moved = os.path.isdir(d)
    if moved:
        shutil.move(d, d + ".hide")
    try:
        return _rows(sampled_quantiles_from_store(t, *args, **kw))
    finally:
        if moved:
            shutil.move(d + ".hide", d)


def _poisoned(t, df):
    """Collect ``df`` with every data file physically hidden — proves
    the plan touches no data file."""
    moved = []
    for e in t._live_data_and_deletes()[0]:
        p = e.data_file.file_path
        shutil.move(p, p + ".poison")
        moved.append(p)
    try:
        return _rows(df)
    finally:
        for p in moved:
            shutil.move(p + ".poison", p)


def _stored_positions(spark, t, k, n_per_file=2):
    """A few (file_path, pos) pairs that ARE in the store — deleting
    them exercises the mask against stored rows."""
    from linkedin_iceberg_spark.catalog.stats_store import store
    fid = t.schema.id_for_name("x")
    d = store(t, "sample", fid, k=k).path
    rows = (spark.read.parquet(d).where(F.col("h").isNotNull())
            .select("file_path", "pos").collect())
    by_file = {}
    for r in rows:
        by_file.setdefault(r["file_path"], []).append(r["pos"])
    return [(f, p) for f, ps in by_file.items()
            for p in sorted(ps)[:n_per_file]]


def test_pos_deletes_store_served_metadata_only(tbl, spark):
    assert analyze_sample(tbl, "x", k=64) == 5
    # delete stored rows AND unsampled positions across files
    pairs = _stored_positions(spark, tbl, 64)
    files = sorted({f for f, _ in pairs})
    pairs += [(files[0], 10_000), (files[-1], 10_001)]  # no-op rows
    pos = spark.createDataFrame(pairs, "file_path string, pos bigint")
    tbl.row_delta(position_deletes=pos)
    t = tbl.refresh()
    want = _live_replay(t, "x", pcts=(10, 50, 90), k=64)
    res = sampled_quantiles_from_store(t, "x", pcts=(10, 50, 90), k=64)
    got = _poisoned(t, res)   # raises if the serve touched data files
    assert got == want
    # masked sample is smaller than the pre-delete one and counted so
    assert got[0][1] < 320  # n_sampled < 64 * 5


def test_truncated_exhaustion_falls_back_live(catalog, spark):
    """One file, n > k, a stored row deleted: the masked store has k-1
    rows but the global bottom-k needs k from this file — the guard
    must fall back to the live scan (and the result must equal it)."""
    df = spark.createDataFrame([(i, i) for i in range(100)],
                               "id bigint, x bigint")
    t = catalog.create_table("db.sampdel1", df)
    t.append(df.orderBy("id").coalesce(1))
    t = t.refresh()
    assert analyze_sample(t, "x", k=16) == 1
    pairs = _stored_positions(spark, t, 16, n_per_file=1)
    pos = spark.createDataFrame(pairs, "file_path string, pos bigint")
    t.row_delta(position_deletes=pos)
    t = t.refresh()
    want = _live_replay(t, "x", pcts=(50,), k=16)
    got = _rows(sampled_quantiles_from_store(t, "x", pcts=(50,), k=16))
    assert got == want
    # and it really is the live path: poisoning the data file breaks it
    res = sampled_quantiles_from_store(t, "x", pcts=(50,), k=16)
    with pytest.raises(Exception):
        _poisoned(t, res)


def test_full_store_file_all_rows_deleted_still_served(catalog, spark):
    """A file with n_nonnull <= k (fully stored) can lose ALL its rows
    to deletes and the store still serves: the masked store IS the
    file's live row set, nothing is unknown."""
    df = spark.createDataFrame([(i, i) for i in range(40)],
                               "id bigint, x bigint")
    t = catalog.create_table("db.sampdel2", df)
    t.append(df.filter("id < 20").orderBy("id").coalesce(1))
    t.append(df.filter("id >= 20").orderBy("id").coalesce(1))
    t = t.refresh()
    assert analyze_sample(t, "x", k=64) == 2
    first = sorted(e.data_file.file_path
                   for e in t._live_data_and_deletes()[0])[0]
    pos = spark.createDataFrame([(first, i) for i in range(20)],
                                "file_path string, pos bigint")
    t.row_delta(position_deletes=pos)
    t = t.refresh()
    want = _live_replay(t, "x", pcts=(1, 100), k=64)
    got = _poisoned(t, sampled_quantiles_from_store(
        t, "x", pcts=(1, 100), k=64))
    assert got == want
    assert got[0][1] == 20  # only the surviving file's rows sampled


def test_equality_deletes_still_live(tbl, spark):
    analyze_sample(tbl, "x", k=64)
    keys = spark.createDataFrame([(i,) for i in range(0, 600, 3)],
                                 "id bigint")
    tbl.row_delta(equality_delete_keys=keys, key_cols=["id"])
    t = tbl.refresh()
    res = sampled_quantiles_from_store(t, "x", pcts=(50,), k=64)
    with pytest.raises(Exception):
        _poisoned(t, res)   # live path reads data: poison breaks it
    got = _rows(sampled_quantiles_from_store(t, "x", pcts=(50,), k=64))
    assert got == _live_replay(t, "x", pcts=(50,), k=64)


def test_grouped_pos_deletes_store_served(tbl, spark):
    assert analyze_sample(tbl, "x", k=32, group_col="s") == 5
    from linkedin_iceberg_spark.catalog.stats_store import store
    fid = t_fid = tbl.schema.id_for_name("x")
    gid = tbl.schema.id_for_name("s")
    d = store(tbl, "sample", t_fid, gid, k=32).path
    rows = (spark.read.parquet(d).where(F.col("h").isNotNull())
            .select("file_path", "pos").limit(6).collect())
    pos = spark.createDataFrame([(r["file_path"], r["pos"])
                                 for r in rows],
                                "file_path string, pos bigint")
    tbl.row_delta(position_deletes=pos)
    t = tbl.refresh()
    want = _live_replay(t, "x", pcts=(50, 90), k=32, group_col="s")
    got = _poisoned(t, sampled_quantiles_from_store(
        t, "x", pcts=(50, 90), k=32, group_col="s"))
    assert got == want


def test_dangling_equality_delete_ignored(tbl, spark):
    """An equality delete that attaches to NO live data file under
    sequence scoping (all its targets compacted away) deletes nothing:
    the store still serves, metadata-only."""
    keys = spark.createDataFrame([(i,) for i in range(0, 600, 2)],
                                 "id bigint")
    tbl.row_delta(equality_delete_keys=keys, key_cols=["id"])
    t = tbl.refresh()
    t.rewrite_data_files(target_size_bytes=1 << 30, min_input_files=2)
    t = t.refresh()
    if not t._live_data_and_deletes()[1]:
        pytest.skip("compaction dropped the dangling delete entry")
    assert analyze_sample(t, "x", k=64) > 0
    want = _live_replay(t, "x", pcts=(50,), k=64)
    got = _poisoned(t, sampled_quantiles_from_store(
        t, "x", pcts=(50,), k=64))
    assert got == want


def test_delete_then_append_mixed_coverage_forces_live(tbl, spark):
    """Pos deletes + an uncovered new file: coverage fails first and
    the live path (which applies the deletes) answers."""
    analyze_sample(tbl, "x", k=64)
    task = tbl.new_scan().plan_files()[0]
    pos = spark.createDataFrame([(task.file.file_path, 0)],
                                "file_path string, pos bigint")
    tbl.row_delta(position_deletes=pos)
    extra = spark.createDataFrame([(10_000, 5000, "zz")],
                                  "id bigint, x bigint, s string")
    tbl.append(extra.coalesce(1))
    t = tbl.refresh()
    got = _rows(sampled_quantiles_from_store(t, "x", pcts=(100,),
                                             k=4096))
    assert got[0][2] == 5000  # live path saw the new row
    assert got == _live_replay(t, "x", pcts=(100,), k=4096)
