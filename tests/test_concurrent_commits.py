"""Contended commits: the optimistic-retry loop under real concurrency.

The reference exercises its commit path with genuinely concurrent
committers (core/.../SnapshotProducer.java:249-285 retry loop;
TestTransaction) and rejects non-serializable interleavings via conflict
validation (BaseOverwriteFiles.java:76-129).  These tests drive both:

- N writer threads appending through separate Table handles must ALL land,
  exactly once each, through CAS + retry — no lost updates, no sleeps.
- A concurrent commit that adds files matching an in-flight overwrite/
  delete filter, or removes files an in-flight op rewrites, must raise
  ValidationException (merging histories would not be serializable).
- Disjoint concurrent DML (non-overlapping predicates) must merge cleanly.

The interleavings for the validation cases are DETERMINISTIC: the victim
table's `ops.refresh` is hooked to let the rival commit land first, which
is exactly the "someone committed between plan and CAS" race with no
timing dependence.
"""

import threading

import pytest
from pyspark.sql import functions as F

from linkedin_iceberg_spark.catalog.metadata import ValidationException
from linkedin_iceberg_spark.expressions import gt_eq, lt


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k") \
        .withColumn("v", F.col("k") * 2)


def _hook_refresh(table, fn):
    """Run `fn` once, right before the table's next metadata refresh —
    the deterministic stand-in for a rival committing first."""
    orig = table.ops.refresh
    state = {"done": False}

    def racy():
        if not state["done"]:
            state["done"] = True
            fn()
        return orig()
    table.ops.refresh = racy


def test_contended_appends_all_land_exactly_once(catalog, spark,
                                                 monkeypatch):
    from linkedin_iceberg_spark.catalog import table as table_mod
    monkeypatch.setattr(table_mod, "COMMIT_NUM_RETRIES", 12)
    t0 = catalog.create_table("db.cc", _df(spark, 0, 1))
    v0 = t0.version
    writers, per_writer = 3, 2
    barrier = threading.Barrier(writers)
    errors = []

    def run(w):
        try:
            handle = catalog.load_table("db.cc")
            barrier.wait()
            for j in range(per_writer):
                lo = (w * per_writer + j) * 100
                handle.append(_df(spark, lo, lo + 100))
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append((w, exc))

    threads = [threading.Thread(target=run, args=(w,))
               for w in range(writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors

    t = catalog.load_table("db.cc")
    n_commits = writers * per_writer
    # every append landed exactly once: rows, snapshots, and versions all
    # agree, and the version chain has no gaps (CAS serialized them)
    assert t.to_df().count() == n_commits * 100
    assert len(t.metadata.snapshots) == n_commits
    assert t.version == v0 + n_commits
    # every key appears exactly once (no doubled commit after a retry)
    assert t.to_df().groupBy("k").count().filter("count != 1").count() == 0


def test_overwrite_rejects_conflicting_concurrent_append(catalog, spark):
    catalog.create_table("db.ov", _df(spark, 0, 1))
    t1 = catalog.load_table("db.ov")
    t2 = catalog.load_table("db.ov")
    t1.append(_df(spark, 0, 500).orderBy("k"))
    t1 = catalog.load_table("db.ov")

    # rival lands rows INSIDE the overwrite's filter range first
    _hook_refresh(t1, lambda: t2.append(_df(spark, 100, 150).orderBy("k")))
    with pytest.raises(ValidationException, match="concurrent"):
        t1.overwrite_where(_df(spark, 100, 200), _range_pred(100, 200))
    # nothing half-committed: rival rows are all there, overwrite is not
    t = catalog.load_table("db.ov")
    assert t.to_df().count() == 500 + 50
    assert t.to_df().filter("k >= 100 and k < 150").count() == 100


def _range_pred(lo, hi):
    from linkedin_iceberg_spark.expressions import and_
    return and_(gt_eq("k", lo), lt("k", hi))


def test_overwrite_merges_with_disjoint_concurrent_append(catalog, spark):
    catalog.create_table("db.ov2", _df(spark, 0, 1))
    t1 = catalog.load_table("db.ov2")
    t2 = catalog.load_table("db.ov2")
    t1.append(_df(spark, 0, 500).orderBy("k"))
    t1 = catalog.load_table("db.ov2")

    # rival lands rows OUTSIDE the filter: retry validates, then merges
    _hook_refresh(t1, lambda: t2.append(_df(spark, 900, 950).orderBy("k")))
    t1.overwrite_where(
        _df(spark, 100, 200).withColumn("v", F.lit(-1).cast("long")),
        _range_pred(100, 200))
    t = catalog.load_table("db.ov2")
    assert t.to_df().count() == 500 + 50
    assert t.to_df().filter("k >= 100 and k < 200 and v != -1").count() == 0
    assert t.to_df().filter("k >= 900").count() == 50  # rival intact


def test_delete_rejects_concurrent_removal_of_rewritten_file(catalog,
                                                             spark):
    catalog.create_table("db.dl", _df(spark, 0, 1))
    t1 = catalog.load_table("db.dl")
    t1.append(_df(spark, 0, 400).orderBy("k"))
    t1 = catalog.load_table("db.dl")
    t2 = catalog.load_table("db.dl")

    # rival compacts/rewrites the SAME rows the delete is rewriting: the
    # delete's survivor files were derived from now-dead inputs
    _hook_refresh(t1, lambda: t2.delete_where(_range_pred(0, 10)))
    with pytest.raises(ValidationException, match="removed by a concurrent"):
        t1.delete_where(_range_pred(5, 20))
    t = catalog.load_table("db.dl")
    assert t.to_df().count() == 390  # only the rival's delete applied


def test_disjoint_concurrent_deletes_merge(catalog, spark):
    catalog.create_table("db.dl2", _df(spark, 0, 1))
    t1 = catalog.load_table("db.dl2")
    # two appends with disjoint key ranges (tight metrics per file)
    t1.append(_df(spark, 0, 200).orderBy("k"))
    t1.append(_df(spark, 800, 1000).orderBy("k"))
    t1 = catalog.load_table("db.dl2")
    t2 = catalog.load_table("db.dl2")

    _hook_refresh(t1, lambda: t2.delete_where(_range_pred(900, 950)))
    t1.delete_where(_range_pred(0, 50))   # touches only the low file
    t = catalog.load_table("db.dl2")
    assert t.to_df().count() == 400 - 50 - 50
    assert t.to_df().filter("k < 50 or (k >= 900 and k < 950)").count() == 0


def test_compaction_rejects_concurrent_delete_file(catalog, spark):
    catalog.create_table("db.cp", _df(spark, 0, 1))
    t1 = catalog.load_table("db.cp")
    t1.append(_df(spark, 0, 100).orderBy("k"))
    t1.append(_df(spark, 100, 200).orderBy("k"))
    t1 = catalog.load_table("db.cp")
    t2 = catalog.load_table("db.cp")

    # rival rewrites one of the compaction's input files concurrently
    _hook_refresh(t1, lambda: t2.delete_where(_range_pred(0, 10)))
    with pytest.raises(ValidationException):
        t1.rewrite_data_files(min_input_files=1)
    t = catalog.load_table("db.cp")
    assert t.to_df().count() == 190


def test_merge_rejects_concurrent_append_in_key_range(catalog, spark):
    catalog.create_table("db.mg", _df(spark, 0, 1))
    t1 = catalog.load_table("db.mg")
    t1.append(_df(spark, 0, 300).orderBy("k"))
    t1 = catalog.load_table("db.mg")
    t2 = catalog.load_table("db.mg")

    src = _df(spark, 100, 200).withColumn("v", F.lit(-1).cast("long"))
    # rival appends a key INSIDE the merge's source-key range: the merge's
    # higher-sequence eq-deletes would hit the rival's rows without the
    # merge output containing them (lost update) — must raise
    _hook_refresh(t1, lambda: t2.append(_df(spark, 150, 151).orderBy("k")))
    with pytest.raises(ValidationException, match="key range"):
        t1.merge(src, ["k"], matched_update={"v": F.col("s.v")})
    t = catalog.load_table("db.mg")
    assert t.to_df().count() == 301  # rival landed, merge did not


def test_merge_accepts_concurrent_append_outside_key_range(catalog, spark):
    catalog.create_table("db.mg2", _df(spark, 0, 1))
    t1 = catalog.load_table("db.mg2")
    t1.append(_df(spark, 0, 300).orderBy("k"))
    t1 = catalog.load_table("db.mg2")
    t2 = catalog.load_table("db.mg2")

    src = _df(spark, 100, 200).withColumn("v", F.lit(-1).cast("long"))
    _hook_refresh(t1, lambda: t2.append(_df(spark, 900, 920).orderBy("k")))
    t1.merge(src, ["k"], matched_update={"v": F.col("s.v")})
    t = catalog.load_table("db.mg2")
    assert t.to_df().count() == 320
    assert t.to_df().filter("k >= 100 and k < 200 and v != -1").count() == 0
    assert t.to_df().filter("k >= 900").count() == 20  # rival intact


def _spy_source_key_bounds(monkeypatch):
    """Record each call of the upsert guard's aggregation fallback."""
    from linkedin_iceberg_spark.catalog import row_delta as RD
    calls = []
    orig = RD._source_key_bounds

    def spy(source, key_cols):
        calls.append(key_cols)
        return orig(source, key_cols)
    monkeypatch.setattr(RD, "_source_key_bounds", spy)
    return calls


def test_upsert_rejects_concurrent_append_in_key_range(catalog, spark,
                                                       monkeypatch):
    catalog.create_table("db.up", _df(spark, 0, 1))
    t1 = catalog.load_table("db.up")
    t1.append(_df(spark, 0, 300).orderBy("k"))
    t1 = catalog.load_table("db.up")
    t2 = catalog.load_table("db.up")
    aggs = _spy_source_key_bounds(monkeypatch)

    src = _df(spark, 100, 200).withColumn("v", F.lit(-1).cast("long"))
    # the key range comes from the written files' bounds: [100, 199]
    _hook_refresh(t1, lambda: t2.append(_df(spark, 150, 151).orderBy("k")))
    with pytest.raises(ValidationException, match="key range"):
        t1.upsert(src, ["k"])
    assert aggs == []  # no aggregation over the source
    t = catalog.load_table("db.up")
    assert t.to_df().count() == 301  # rival landed, upsert did not


def test_upsert_accepts_concurrent_append_outside_key_range(catalog, spark,
                                                            monkeypatch):
    catalog.create_table("db.up2", _df(spark, 0, 1))
    t1 = catalog.load_table("db.up2")
    t1.append(_df(spark, 0, 300).orderBy("k"))
    t1 = catalog.load_table("db.up2")
    t2 = catalog.load_table("db.up2")
    aggs = _spy_source_key_bounds(monkeypatch)

    src = _df(spark, 100, 200).withColumn("v", F.lit(-1).cast("long"))
    _hook_refresh(t1, lambda: t2.append(_df(spark, 900, 920).orderBy("k")))
    t1.upsert(src, ["k"])
    assert aggs == []
    t = catalog.load_table("db.up2")
    assert t.to_df().count() == 320
    assert t.to_df().filter("k >= 100 and k < 200 and v != -1").count() == 0
    assert t.to_df().filter("k >= 900").count() == 20  # rival intact


def test_upsert_without_key_bounds_falls_back_and_rejects(catalog, spark,
                                                          monkeypatch):
    """Metrics mode `counts` writes no bounds: the guard falls back to the
    source aggregation and still rejects an in-range rival."""
    catalog.create_table("db.up3", _df(spark, 0, 1), properties={
        "write.metadata.metrics.default": "counts"})
    t1 = catalog.load_table("db.up3")
    t1.append(_df(spark, 0, 300).orderBy("k"))
    t1 = catalog.load_table("db.up3")
    t2 = catalog.load_table("db.up3")
    aggs = _spy_source_key_bounds(monkeypatch)

    src = _df(spark, 100, 200).withColumn("v", F.lit(-1).cast("long"))
    _hook_refresh(t1, lambda: t2.append(_df(spark, 150, 151).orderBy("k")))
    with pytest.raises(ValidationException, match="key range"):
        t1.upsert(src, ["k"])
    assert aggs == [["k"]]
    assert catalog.load_table("db.up3").to_df().count() == 301


def test_compaction_merges_with_disjoint_concurrent_delete_file(catalog,
                                                                spark):
    """A concurrent eq-delete whose key bounds cannot touch the
    compaction inputs merges cleanly instead of aborting the rewrite."""
    from linkedin_iceberg_spark import PartitionSpec, Schema
    from linkedin_iceberg_spark.catalog.row_delta import row_delta

    base = _df(spark, 0, 1).withColumn("p", (F.col("k") / 1000)
                                       .cast("long"))
    spec = (PartitionSpec.builder_for(Schema.from_spark(base.schema))
            .identity("p").build())
    catalog.create_table("db.cpd", base, spec=spec)
    t1 = catalog.load_table("db.cpd")

    def mk(lo, hi):
        return _df(spark, lo, hi).withColumn(
            "p", (F.col("k") / 1000).cast("long")).orderBy("k")
    t1.append(mk(0, 100))      # partition 0, file A
    t1.append(mk(100, 200))    # partition 0, file B
    t1.append(mk(5000, 5050))  # partition 5, single file: NOT compacted
    t1 = catalog.load_table("db.cpd")
    t2 = catalog.load_table("db.cpd")

    def rival():
        row_delta(t2, equality_delete_keys=_df(spark, 5000, 5010)
                  .select("k"), key_cols=["k"])
    _hook_refresh(t1, rival)
    # only partition 0's pair is a rewrite group; the rival's delete
    # bounds [5000,5009] cannot hit those inputs -> histories merge
    from linkedin_iceberg_spark.catalog.maintenance import rewrite_data_files
    res = rewrite_data_files(t1, target_size_bytes=1 << 30,
                             min_input_files=2)
    assert res["rewritten_files"] == 2
    t = catalog.load_table("db.cpd")
    assert t.to_df().count() == 250 - 10  # rival's delete applied, no loss
